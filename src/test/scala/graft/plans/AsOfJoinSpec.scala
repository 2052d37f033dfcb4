package graft.plans

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Unit semantics + plan shape for the custom as-of join operator. */
class AsOfJoinSpec extends SparkSpec {

  import scala.jdk.CollectionConverters._
  private val lSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "k BIGINT, lt BIGINT, tag STRING")
  private val rSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "rk BIGINT, rt BIGINT, v DOUBLE")

  private def leftDf(rows: (Long, Long, String)*) =
    spark.createDataFrame(
      rows.map(r => Row(r._1, r._2, r._3)).asJava, lSchema)
  private def rightDf(rows: (Long, Long, Double)*) =
    spark.createDataFrame(
      rows.map(r => Row(r._1, r._2, r._3)).asJava, rSchema)

  private def run(l: org.apache.spark.sql.DataFrame,
                  r: org.apache.spark.sql.DataFrame) =
    graft.ops.AsOf.join(l, r, Seq("k"), Seq("rk"), "lt", "rt")
      .orderBy("k", "lt")
      .select("k", "lt", "tag", "rt", "v")
      .collect().toSeq

  test("picks newest right row at-or-before left time, per key") {
    val out = run(
      leftDf((1L, 10L, "a"), (1L, 20L, "b"), (2L, 10L, "c")),
      rightDf((1L, 5L, 1.0), (1L, 10L, 2.0), (1L, 15L, 3.0),
        (2L, 99L, 4.0)))
    assert(out === Seq(
      Row(1L, 10L, "a", 10L, 2.0), // inclusive: rt == lt matches
      Row(1L, 20L, "b", 15L, 3.0),
      Row(2L, 10L, "c", null, null))) // key 2 has only a future row
  }

  test("unmatched keys and empty right side null-extend") {
    val out = run(leftDf((7L, 1L, "x")), rightDf((8L, 1L, 9.0)))
    assert(out === Seq(Row(7L, 1L, "x", null, null)))
  }

  test("null right time never matches; null left time matches nothing") {
    import org.apache.spark.sql.types._
    val l = spark.createDataFrame(
      Seq(Row(1L, null, "nullt"), Row(1L, 50L, "ok")).asJava,
      StructType(Seq(StructField("k", LongType), StructField("lt", LongType),
        StructField("tag", StringType))))
    val r = spark.createDataFrame(
      Seq(Row(1L, null, 1.0), Row(1L, 40L, 2.0)).asJava,
      StructType(Seq(StructField("rk", LongType), StructField("rt", LongType),
        StructField("v", DoubleType))))
    val out = graft.ops.AsOf.join(l, r, Seq("k"), Seq("rk"), "lt", "rt")
      .orderBy(col("lt").asc_nulls_first)
      .select("tag", "rt", "v").collect().toSeq
    assert(out === Seq(Row("nullt", null, null), Row("ok", 40L, 2.0)))
  }

  test("forward direction picks smallest right row at-or-after left time") {
    val out = graft.ops.AsOf.join(
      leftDf((1L, 10L, "a"), (1L, 20L, "b"), (2L, 10L, "c")),
      rightDf((1L, 10L, 1.0), (1L, 15L, 2.0), (2L, 5L, 3.0)),
      Seq("k"), Seq("rk"), "lt", "rt", graft.plans.AsOfForward)
      .orderBy("k", "lt").select("k", "lt", "tag", "rt", "v")
      .collect().toSeq
    assert(out === Seq(
      Row(1L, 10L, "a", 10L, 1.0),  // inclusive: rt == lt matches
      Row(1L, 20L, "b", null, null), // no future purchase for key 1
      Row(2L, 10L, "c", null, null))) // key 2's only row is in the past
  }

  test("forward shares a right row across several left rows") {
    val out = graft.ops.AsOf.join(
      leftDf((1L, 1L, "x"), (1L, 2L, "y"), (1L, 3L, "z")),
      rightDf((1L, 10L, 7.0)),
      Seq("k"), Seq("rk"), "lt", "rt", graft.plans.AsOfForward)
      .orderBy("lt").select("tag", "rt", "v").collect().toSeq
    assert(out === Seq(Row("x", 10L, 7.0), Row("y", 10L, 7.0),
      Row("z", 10L, 7.0)))
  }

  test("agrees with the union+window composition on real data") {
    val custom = graft.SparkEntry.queries("x_asof_join")(spark, sf)
      .collect().toSeq
    val composed = graft.SparkEntry.queries("x_asof_union_window")(spark, sf)
      .collect().toSeq
    assert(custom.nonEmpty && custom === composed)
  }

  test("plans as one exchange per side, no nested loop, merge preserves sort") {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    val df = graft.SparkEntry.queries("x_asof_join")(s, sf)
    val plan = df.queryExecution.executedPlan
    val asof = plan.collect { case e: AsOfJoinExec => e }
    assert(asof.size === 1, s"expected AsOfJoinExec:\n$plan")
    val exchanges = asof.head.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.size === 2,
      s"as-of join should hash-shuffle each side exactly once:\n${asof.head}")
    assert(plan.toString.contains("AsOfJoin")) // nodeName strips "Exec"
    assert(!plan.toString.contains("NestedLoop"),
      s"as-of must not plan a nested loop:\n$plan")
  }
}
