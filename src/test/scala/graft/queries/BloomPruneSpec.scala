package graft.queries

import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.BloomF

class BloomPruneSpec extends SparkSpec {

  test("bloom has no false negatives and a sane false-positive rate") {
    val logBits = 12
    val words = BloomF.emptyWords(logBits)
    val inserted = (0L until 200L).map(_ * 7919L + 13L)
    inserted.foreach(BloomF.insert(words, _, logBits))
    assert(inserted.forall(BloomF.mightContain(_, words, logBits)),
      "false negative — bloom-prune would DROP matching fact rows")
    val probes = (1L to 20000L).map(_ * 104729L + 5L)
      .filterNot(inserted.contains)
    val fp = probes.count(BloomF.mightContain(_, words, logBits))
    // 200 keys in 4096 bits, K=4 → theoretical FPR ~0.1%; allow 10x slack
    assert(fp.toDouble / probes.size < 0.01, s"FPR too high: $fp/${probes.size}")
  }

  test("bloom probe filters the fact side BELOW the join exchange") {
    val df = graft.SparkEntry.queries("b_bloom_prune")(spark, sf)
    df.collect()
    // QueryStageExecs are leaf nodes — descend into their plans manually
    def walk(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val into = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          Seq(q.plan)
        case _ => p.children
      }
      p +: into.flatMap(walk)
    }
    val nodes = walk(df.queryExecution.executedPlan)
    // bloom_might_contain plans as Spark's StaticInvoke of the kernel
    val prunedFilters = nodes.collect {
      case f: FilterExec if f.condition.exists {
            case s: StaticInvoke => s.functionName == "mightContain"
            case _ => false
          } => f
    }
    assert(prunedFilters.nonEmpty,
      s"no bloom_might_contain filter in the executed plan:\n${nodes.head}")
    // the probe must run in the scan stage: nothing but row conversion
    // and the parquet scan below it — no exchange, no join
    val factProbe = prunedFilters.find(
      _.toString.contains("lineitem.parquet"))
    assert(factProbe.nonEmpty, "no bloom probe on the fact-side scan")
    val below = walk(factProbe.get).drop(1)
    assert(!below.exists(_.isInstanceOf[ShuffleExchangeExec]),
      "bloom probe sits above a shuffle — fact rows moved before pruning")
    assert(below.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]),
      "bloom probe not fused with the fact scan stage")
  }

  test("bloom-pruned join equals the plain join row-for-row") {
    val plain = graft.tbl(spark, sf, "lineitem")
      .join(graft.tbl(spark, sf, "orders")
          .filter(col("o_orderpriority") === "1-URGENT"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag").count()
      .orderBy("l_returnflag")
      .collect().toSeq
    val pruned = graft.SparkEntry.queries("b_bloom_prune")(spark, sf)
      .select(col("l_returnflag"), col("n").as("count"))
      .collect().toSeq
    assert(pruned.map(r => (r.getString(0), r.getLong(1))) ===
      plain.map(r => (r.getString(0), r.getLong(1))))
  }
}
