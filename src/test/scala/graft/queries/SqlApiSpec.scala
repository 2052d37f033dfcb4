package graft.queries

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec

import graft.SparkSpec

/** The SQL-text flagship (`q_sql_full`) must compile to the same
  * physical shape as the DataFrame flagship (`q_taxi_full`) — both are
  * the reference's daily chain, authored through the two surfaces the
  * engine exposes. Equal shape = equal scale behavior, which is the
  * actual content of the "a reference user can switch" claim.
  */
class SqlApiSpec extends SparkSpec {

  private def shape(plan: SparkPlan): (Int, Int, Int) = {
    def count(p: SparkPlan, f: SparkPlan => Boolean): Int =
      p.collectWithSubqueries { case q if f(q) => 1 }.sum
    (count(plan, _.isInstanceOf[TakeOrderedAndProjectExec]),
      count(plan, _.isInstanceOf[BroadcastHashJoinExec]),
      count(plan, _.isInstanceOf[ShuffleExchangeExec]))
  }

  test("SQL-text flagship plans identically to the DataFrame flagship") {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    val sql = shape(graft.SparkEntry.queries("q_sql_full")(s, sf)
      .queryExecution.executedPlan)
    val df = shape(graft.SparkEntry.queries("q_taxi_full")(s, sf)
      .queryExecution.executedPlan)
    assert(sql === df,
      s"(topK, broadcastJoins, shuffles): sql=$sql dataframe=$df")
    // the scale-load-bearing facts, asserted absolutely: bounded top-k
    // before every global rank, dims broadcast, no unexpected shuffles
    val (topk, bhj, _) = sql
    assert(topk === 3, "three bounded popularity top-ks")
    assert(bhj >= 4, "zone dims + USING(popularity) joins broadcast")
  }

  test("term_histogram and word_shingles are SQL-callable") {
    val r = spark.sql(
      """SELECT h.term, h.tf
        |FROM (SELECT explode(term_histogram(
        |        word_shingles(array('a','b','a','b'), 2))) AS h)
        |ORDER BY h.term""".stripMargin)
      .collect().map(row => (row.getString(0), row.getLong(1))).toSeq
    assert(r === Seq(("a b", 2L), ("b a", 1L)))
  }

  test("SQL functions fail a non-castable argument at analysis") {
    val calls = Seq(
      "wkt_centroid_lng(array(1))", "wkt_centroid_lat(array(1))",
      "wkt_centroid_sph_lng(array(1))", "wkt_centroid_sph_lat(array(1))",
      "h3_fromgeogpoint(array(1.0), 2.0, 9)", "h3_cell_lat(array(1))",
      "h3_cell_lng(array(1))", "h3_cell_to_parent('8928308280fffff', array(1))",
      "h3_cell_to_children(array(1), 10)", "h3_compact_cells(map(1, 2))",
      "h3_cell_boundary(array(1))", "h3_cell_boundary_full(array(1))",
      "h3_grid_distance(array(1), '8928308280fffff')",
      "h3_grid_path('8928308280fffff', array(1))",
      "term_histogram(map(1, 2))", "word_shingles(map(1, 2), 2)")
    def fn(call: String) = call.takeWhile(_ != '(')
    assert(calls.map(fn).toSet ===
      graft.plans.GraftExtensions.SqlFunctions.map(_._1).toSet)
    calls.foreach { call =>
      val e = intercept[AnalysisException](spark.sql(s"SELECT $call"))
      // the error quotes the call by its column name
      assert(e.getMessage.contains("DATATYPE_MISMATCH") &&
        e.getMessage.contains(fn(call)), s"$call: ${e.getMessage}")
    }
  }

  test("SQL literal args are checked, naming the function") {
    Seq(
      "h3_fromgeogpoint(1.0, 2.0, r)", "h3_fromgeogpoint(1.0, 2.0, 16)",
      "h3_cell_to_children('8928308280fffff', r)",
      "h3_cell_to_children('8928308280fffff', 16)",
      "word_shingles(array('a', 'b'), 0)").foreach { call =>
      val e = intercept[Exception](
        spark.sql(s"SELECT $call FROM VALUES (9) AS t(r)"))
      assert(e.getMessage.contains(call.takeWhile(_ != '(')),
        s"$call: ${e.getMessage}")
    }
  }
}
