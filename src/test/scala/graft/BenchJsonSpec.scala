package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench artifact is the round's banked evidence: a malformed JSON
  * line (one dress rehearsal emitted an unterminated `efficiency_confound`
  * string) is indistinguishable from banking nothing. This spec parses
  * every ProtoState emission shape — symmetric steady, lo-cold-only,
  * hi-cold-only, multi-rep — with a strict JSON parser (Jackson, already
  * on the Spark classpath). */
class BenchJsonSpec extends AnyFunSuite {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def parse(fragment: String): com.fasterxml.jackson.databind.JsonNode =
    mapper.readTree(s"{$fragment}")

  /** Per-CHILD run lists per leg: each child banks (min(runs), runs) via
    * the same add API the bench uses, so warm counts and min-warm bits
    * match production exactly. */
  private def proto(loChildren: Seq[Seq[Double]],
                    hiChildren: Seq[Seq[Double]]): Bench.ProtoState = {
    val p = new Bench.ProtoState("spillfree", 400000L)
    loChildren.foreach(rs => p.addLo(rs.min, rs))
    hiChildren.foreach(rs => p.addHi(rs.min, rs))
    p.recall = 1.0
    p
  }

  test("two cold retry children do not fake steadiness") {
    val p = proto(Seq(Seq(339.5)), Seq(Seq(105.5, 45.6, 50.7)))
    p.addLo(250.0, Seq(250.0)) // 1-run retry child: cold, warm += 0
    val n = parse(p.json).get("spillfree")
    assert(!n.get("steady_n").asBoolean())
    assert(n.get("efficiency_confound").asText().contains("biased HIGH"))
    assert(n.get("wall_runs_n").size() == 2)
  }

  test("symmetric steady legs: valid JSON, no confound key") {
    val p = proto(Seq(Seq(279.3, 168.7)), Seq(Seq(73.9, 49.1, 55.8)))
    val n = parse(p.json).get("spillfree")
    assert(n.get("steady_n").asBoolean() && n.get("steady_4n").asBoolean())
    assert(n.get("min_warm_n").asBoolean() && n.get("min_warm_4n").asBoolean())
    assert(n.get("efficiency_confound") == null)
    assert(math.abs(n.get("efficiency").asDouble() - 168.7 / (4 * 49.1)) < 1e-3)
    assert(n.get("wall_runs_n").size() == 2 && n.get("wall_runs_4n").size() == 3)
  }

  test("super-unity ratio with both legs steady: self-flagged as contention") {
    // dress 16 shape: hi leg clean (42.7 s best) but both lo runs landed in
    // a loaded stretch (227+ s vs the 139-171 s norm) -> ratio 1.33, which
    // cannot be true scaling on identical hardware
    val p = proto(Seq(Seq(227.3, 242.5)), Seq(Seq(82.3, 64.8, 52.8, 42.7, 46.6)))
    val n = parse(p.json).get("spillfree")
    assert(n.get("steady_n").asBoolean() && n.get("steady_4n").asBoolean())
    assert(n.get("efficiency").asDouble() > 1.05)
    assert(n.get("efficiency_confound").asText().contains("super-unity"))
    // a clean reading just under the bound stays unflagged
    val q = proto(Seq(Seq(279.3, 168.7)), Seq(Seq(73.9, 42.0)))
    assert(parse(q.json).get("spillfree").get("efficiency_confound") == null)
  }

  test("lo cold-only: valid JSON, biased-HIGH confound present") {
    val p = proto(Seq(Seq(453.2)), Seq(Seq(51.7, 74.9)))
    val n = parse(p.json).get("spillfree")
    assert(!n.get("steady_n").asBoolean() && n.get("steady_4n").asBoolean())
    assert(n.get("efficiency_confound").asText().contains("biased HIGH"))
  }

  test("hi cold-only: valid JSON, biased-LOW confound present") {
    val p = proto(Seq(Seq(279.3, 168.7)), Seq(Seq(220.4)))
    val n = parse(p.json).get("spillfree")
    assert(n.get("steady_n").asBoolean() && !n.get("steady_4n").asBoolean())
    assert(n.get("efficiency_confound").asText().contains("biased LOW"))
  }

  test("cold-MIN hi with both legs steady: biased-LOW confound (dress 17)") {
    // hi child ran 77.5 (cold) then 133.9 (contended warm): nominally
    // steady, but the banked min IS the cold run — the 0.500 it produced
    // is a lower bound, and the artifact must say so
    val p = proto(Seq(Seq(206.3, 155.2, 156.9)), Seq(Seq(77.5, 133.9)))
    val n = parse(p.json).get("spillfree")
    assert(n.get("steady_n").asBoolean() && n.get("steady_4n").asBoolean())
    assert(n.get("min_warm_n").asBoolean() && !n.get("min_warm_4n").asBoolean())
    assert(n.get("efficiency_confound").asText().contains("biased LOW"))
  }

  test("cold-MIN lo with both legs steady: biased-HIGH confound") {
    val p = proto(Seq(Seq(200.0, 210.0)), Seq(Seq(80.0, 52.8)))
    val n = parse(p.json).get("spillfree")
    assert(n.get("efficiency").asDouble() < 1.05) // below the super-unity gate
    assert(!n.get("min_warm_n").asBoolean() && n.get("min_warm_4n").asBoolean())
    assert(n.get("efficiency_confound").asText().contains("biased HIGH"))
  }

  test("multi-rep legs: min wall wins and arrays carry every run") {
    val p = proto(Seq(Seq(250.0, 170.0), Seq(247.2, 161.5)),
      Seq(Seq(62.9, 49.1), Seq(80.8, 73.9, 47.8)))
    val n = parse(p.json).get("spillfree")
    assert(n.get("wall_s_n").asDouble() == 161.5)
    assert(n.get("wall_s_4n").asDouble() == 47.8)
    assert(n.get("wall_runs_4n").size() == 5)
  }

  // ---- deadline-aware child budgets: a spawned child is reaped (watchdog
  // grace 90 + kill-wait 15 + slack 10 = 115 s) BEFORE the parent's
  // overall budget expires, for every remaining-window value — the
  // invariant that turns a pathological window into a smaller banked
  // record instead of an rc-124

  test("child budgets never outlive the parent window (reap included)") {
    // reps are gated on remaining >= 180, so that is the reachable domain
    for (i <- 0 to 140; remaining = 180.0 + i * 7.3) {
      assert(Bench.hiChildBudget(remaining) + Bench.ChildReapS <= remaining + 1e-9)
      assert(Bench.loChildBudget(remaining) + Bench.ChildReapS <= remaining + 1e-9)
    }
    // the retry plan is reachable at ANY leftover window
    for (i <- 0 to 164; steadyLo <- Seq(true, false);
         minWarmLo <- Seq(true, false); remaining = i * 7.3)
      Bench.retryPlan(steadyLo, minWarmLo, remaining).foreach { case (_, b) =>
        assert(b + Bench.ChildReapS <= remaining + 1e-9)
      }
  }

  test("hi leg keeps <=40% of a healthy window; lo gets the rest") {
    assert(Bench.hiChildBudget(900.0) == (900.0 - 60.0) * 0.40)
    assert(Bench.loChildBudget(900.0) == 900.0 - 115.0)
  }

  test("retry plan: never-steady lo outranks hi and needs cold+warm room") {
    assert(Bench.retryPlan(steadyLo = false, minWarmLo = false, 600.0).contains((true, 485.0)))
    assert(Bench.retryPlan(steadyLo = false, minWarmLo = false, 500.0).isEmpty) // < 450 after reap
    assert(Bench.retryPlan(steadyLo = true, minWarmLo = true, 600.0).contains((false, 300.0)))
    assert(Bench.retryPlan(steadyLo = true, minWarmLo = true, 300.0).contains((false, 185.0)))
    assert(Bench.retryPlan(steadyLo = true, minWarmLo = true, 250.0).isEmpty)
    // a steady-but-cold-MIN lo (ratio biased HIGH) takes the big retry
    // when it fits, else the window falls through to the cheap hi retry
    assert(Bench.retryPlan(steadyLo = true, minWarmLo = false, 600.0).contains((true, 485.0)))
    assert(Bench.retryPlan(steadyLo = true, minWarmLo = false, 300.0).contains((false, 185.0)))
  }

  test("hi leg past the host's cores is flagged, not banked silently") {
    assert(Bench.coreGuardJson(hi = 8, hostCores = 8) == "")
    assert(Bench.coreGuardJson(hi = 8, hostCores = 32) == "")
    val n = parse(s""""cores_n":2,"cores_4n":8${Bench.coreGuardJson(hi = 8, hostCores = 4)}""")
    assert(n.get("cores_4n").asInt() == 8)
    assert(n.get("host_cores").asInt() == 4)
    assert(n.get("insufficient_cores").asBoolean())
  }
}
