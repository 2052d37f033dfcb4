package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.functions._

import graft.{SparkSpec, tbl}
import graft.core.TableStats

/** The cost-based skip-partial decision ([[AutoSkipPartialAgg]]) against
  * the hand-wired `DirectAgg` sites it replaces on scan-side aggregates,
  * and the guard cases where the stock two-phase plan must stand. */
class AutoSkipPartialSpec extends SparkSpec {

  private def ensureStats(): Unit = TableStats.analyze(spark, sf)

  private def hinted(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case a: Aggregate if a.hint.contains(SkipPartialAggHint) => a
    }.nonEmpty

  /** Number of HashAggregateExec operators in the final plan: 1 for the
    * single-phase (skip-partial) shape, 2 for stock partial+final. */
  private def aggExecCount(df: DataFrame): Int = {
    df.write.format("noop").mode("overwrite").save()
    var plan = df.queryExecution.executedPlan
    plan = plan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    plan.collect { case h: HashAggregateExec => h }.size
  }

  test("near-unique scan-side grouping is auto-hinted (≡ hand DirectAgg)") {
    ensureStats()
    // primary-key grouping: ratio 1.0 at every scale factor ⇒ hint
    val auto = tbl(spark, sf, "lineitem")
      .select("l_orderkey", "l_linenumber")
      .groupBy("l_orderkey", "l_linenumber")
      .agg(count(lit(1)).as("n"))
    assert(hinted(auto), "pk aggregate should be auto-hinted")
    // same decision the hand-wired form takes, same physical shape
    val hand = graft.ops.DirectAgg.countByKeys(
      tbl(spark, sf, "lineitem").select("l_orderkey", "l_linenumber"), "n")
    assert(aggExecCount(auto) === 1)
    assert(aggExecCount(hand) === 1)
    assert(auto.orderBy("l_orderkey", "l_linenumber").collect().toSeq ===
      hand.orderBy("l_orderkey", "l_linenumber").collect().toSeq)
  }

  test("the decision is regime-aware where a static hint is not") {
    ensureStats()
    // the q_topk_popularity route keys: at sf0.001 only ~2000 distinct
    // (part, supp) pairs exist for ~6000 lineitems — ratio ≈ 0.33 < θ,
    // so the estimator keeps the stock two-phase plan here, while the
    // same authoring flips to single-phase at sf0.1+ where the pairs
    // are near-unique (the regime the hand hint was measured in)
    val routes = tbl(spark, sf, "lineitem")
      .select("l_partkey", "l_suppkey")
      .groupBy("l_partkey", "l_suppkey")
      .agg(count(lit(1)).as("route_count"))
    assert(!hinted(routes),
      "low-SF route aggregate must stay two-phase (ratio below θ)")
  }

  test("md5 fingerprint grouping resolves NDV through the hash whitelist") {
    ensureStats()
    val dedup = tbl(spark, sf, "documents")
      .select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
      .groupBy("fp")
      .agg(min("doc_id").as("keeper"), count(lit(1)).as("n"))
    assert(hinted(dedup), "fingerprint dedup should be auto-hinted")
    assert(aggExecCount(dedup) === 1)
  }

  test("low-cardinality control aggregate keeps the stock two-phase plan") {
    ensureStats()
    val control = tbl(spark, sf, "lineitem")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"))
    assert(!hinted(control), "3-value key must not be hinted")
    assert(aggExecCount(control) === 2)
  }

  test("bucket-assignment grouping is capped by the pmod literal") {
    ensureStats()
    // hash-mod-100 split buckets: NDV(doc_id) is huge but pmod caps at
    // 100 ≪ rows — must stay two-phase
    val buckets = tbl(spark, sf, "documents")
      .groupBy(pmod(xxhash64(col("doc_id")), lit(100)).as("bucket"))
      .agg(count(lit(1)).as("n"))
    assert(!hinted(buckets), "bucketed grouping must not be hinted")
  }

  test("no stats ⇒ no decision; joins/explodes are out of scope") {
    // a scan with no registered stats (CSV-free synthetic view) gets no
    // hint even with near-unique keys
    import spark.implicits._
    val anon = (1 to 1000).toDF("k").groupBy("k").agg(count(lit(1)).as("n"))
    assert(!hinted(anon))
    ensureStats()
    // join-derived grouping: estimator must decline (hand hints own this)
    val joined = tbl(spark, sf, "lineitem")
      .join(tbl(spark, sf, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_orderkey", "l_linenumber")
      .agg(count(lit(1)).as("n"))
    assert(!hinted(joined))
  }

  test("ANALYZE registers exact integral ranges (columnRange)") {
    ensureStats()
    val li = tbl(spark, sf, "lineitem")
    val Some((lo, hi)) = TableStats.columnRange(li, "l_linenumber")
    val row = li.agg(min("l_linenumber").cast("long"),
      max("l_linenumber").cast("long")).head()
    assert(lo === row.getLong(0) && hi === row.getLong(1))
    // ranges are integral-only: no value-domain proof for doubles
    assert(TableStats.columnRange(li, "l_quantity").isEmpty)
  }

  test("disjoint-bit key pack is hinted only when ranges prove it") {
    ensureStats()
    // pk pack: (l_orderkey << 32) | l_linenumber — exact ranges prove
    // the bit fields disjoint, so NDV = product ⇒ near-unique ⇒ hint
    val packed = tbl(spark, sf, "lineitem")
      .select(shiftleft(col("l_orderkey"), 32)
        .bitwiseOR(col("l_linenumber")).as("k"))
      .groupBy("k").agg(count(lit(1)).as("n"))
    assert(hinted(packed), "provably-injective pack should be hinted")
    assert(aggExecCount(packed) === 1)
    // overlapping bits: linenumber reaches ≥ 2 ≥ 2^1, so `<< 1 |` is
    // NOT provably injective ⇒ no estimate ⇒ no hint
    val overlap = tbl(spark, sf, "lineitem")
      .select(shiftleft(col("l_orderkey"), 1)
        .bitwiseOR(col("l_linenumber")).as("k"))
      .groupBy("k").agg(count(lit(1)).as("n"))
    assert(!hinted(overlap), "overlapping-bit pack must not be hinted")
    // non-integral right operand: no range stat ⇒ no hint
    val noRange = tbl(spark, sf, "lineitem")
      .select(shiftleft(col("l_orderkey"), 32)
        .bitwiseOR(col("l_quantity").cast("long")).as("k"))
      .groupBy("k").agg(count(lit(1)).as("n"))
    assert(!hinted(noRange), "rangeless operand must not be hinted")
  }

  test("the threshold is 0.5: pmod caps either side of it") {
    ensureStats()
    // ratio = min(NDV(doc_id), m) / rows with doc_id near-unique, so the
    // modulus sets the ratio: just over half the rows is hinted, just
    // under half is not
    val docs = tbl(spark, sf, "documents")
    val rows = docs.count()
    def byMod(m: Long) = docs
      .groupBy(pmod(col("doc_id"), lit(m)).as("bucket"))
      .agg(count(lit(1)).as("n"))
    assert(hinted(byMod(rows / 2 + 2)), "ratio above θ must be hinted")
    assert(!hinted(byMod(rows / 2 - 2)), "ratio below θ must stay two-phase")
  }
}
