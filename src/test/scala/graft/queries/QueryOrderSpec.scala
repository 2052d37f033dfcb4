package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** A query's declared result order (`QueryDef.order`) is the ORDER BY of
  * its oracle: `QueryDef`'s determinism contract has both sides end in
  * the same total ORDER BY, so the two must sort by the same columns, in
  * the same sequence, in the same direction. */
class QueryOrderSpec extends AnyFunSuite {
  import QueryOrderSpec._

  test("each declared order matches its oracle's last top-level ORDER BY") {
    val declared = SparkEntry.defs.filter(_._2.order.nonEmpty)
    assert(declared.size >= 27, s"only ${declared.size} declared orders")
    declared.toSeq.sortBy(_._1).foreach { case (name, d) =>
      val sql = d.oracle.getOrElse(fail(s"$name declares an order but " +
        "has no oracle"))
      val want = lastOrderBy(sql).map(parseKey)
      val got = d.order.map(c => parseKey(c.toString))
      assert(got === want, s"$name: declared $got, oracle orders by $want")
    }
  }

  test("the parser reads the outermost ORDER BY, qualifiers and directions") {
    val sql = """WITH x AS (SELECT a FROM t ORDER BY a)
                |SELECT a, 'ORDER BY z' AS s, max(b) OVER (ORDER BY c) AS m
                |FROM x ORDER BY x.a, lower(b) DESC, c ASC LIMIT 5""".stripMargin
    assert(lastOrderBy(sql).map(parseKey) ===
      Seq(("a", false), ("lower(b)", true), ("c", false)))
    assert(parseKey(org.apache.spark.sql.functions.col("d").desc.toString) ===
      ("d", true))
  }

  test("benchFn is kept for the three alternate executions only") {
    assert(SparkEntry.defs.filter(_._2.benchFn.isDefined).keySet ===
      Set("c_pipeline_e2e", "c_pipeline_fused", "q_taxi_full"))
  }
}

object QueryOrderSpec {

  /** The items of the last ORDER BY outside parentheses and string
    * literals, up to a top-level LIMIT or the end. */
  def lastOrderBy(sql: String): Seq[String] = {
    // depth of each character; -1 inside a string literal
    val depth = new Array[Int](sql.length)
    var d = 0
    var quoted = false
    sql.indices.foreach { i =>
      val c = sql(i)
      if (quoted) { depth(i) = -1; if (c == '\'') quoted = false }
      else c match {
        case '\'' => quoted = true; depth(i) = -1
        case '(' => depth(i) = d; d += 1
        case ')' => d -= 1; depth(i) = d
        case _ => depth(i) = d
      }
    }
    def topLevel(m: scala.util.matching.Regex.Match) = depth(m.start) == 0
    val orderBy = """(?i)\border\s+by\b""".r.findAllMatchIn(sql)
      .filter(topLevel).toSeq.lastOption
      .getOrElse(throw new IllegalArgumentException(s"no ORDER BY: $sql"))
    val end = """(?i)\blimit\b""".r.findAllMatchIn(sql)
      .filter(m => m.start > orderBy.end && topLevel(m))
      .map(_.start).toSeq.headOption.getOrElse(sql.length)
    val items = Seq.newBuilder[String]
    var from = orderBy.end
    (orderBy.end until end).foreach { i =>
      if (sql(i) == ',' && depth(i) == 0) {
        items += sql.substring(from, i); from = i + 1
      }
    }
    items += sql.substring(from, end)
    items.result().map(_.trim.stripSuffix(";").trim)
  }

  /** (column, descending) of one sort key: a SQL ORDER BY item or a
    * Spark sort column's string form; a table qualifier is dropped. */
  def parseKey(item: String): (String, Boolean) = {
    val words = item.replace("`", "").trim.split("\\s+").toSeq
    val dirs = Set("ASC", "DESC", "NULLS", "FIRST", "LAST")
    val expr = words.takeWhile(w => !dirs(w.toUpperCase)).mkString(" ")
    val col = if (expr.matches("""\w+\.\w+""")) expr.split('.')(1) else expr
    (col, words.exists(_.equalsIgnoreCase("DESC")))
  }
}
