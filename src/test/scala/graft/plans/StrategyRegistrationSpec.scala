package graft.plans

import graft.SparkSpec
import graft.ops.DirectAgg

/** graft's operator strategies reach the planner one way: the
  * [[GraftExtensions]] hook every `GraftSession` session is built with.
  * Running the operators' public APIs must not register a second copy
  * (a duplicate strategy is tried twice on every plan node). */
class StrategyRegistrationSpec extends SparkSpec {

  test("each graft strategy is planned once; no per-session extras") {
    val s = spark.newSession()
    graft.SparkEntry.queries("x_asof_join")(s, sf).collect()
    graft.SparkEntry.queries("x_multimodal_frames")(s, sf).collect()
    DirectAgg.countByKeys(
      graft.tbl(s, sf, "documents").select("doc_id"), "n").collect()
    val strategies = s.sessionState.planner.strategies
    for (st <- Seq(AsOfJoinStrategy, FrameStatsStrategy, DirectAggStrategy))
      assert(strategies.count(_ == st) === 1,
        s"$st planned ${strategies.count(_ == st)} times")
    assert(s.experimental.extraStrategies.isEmpty)
  }
}
