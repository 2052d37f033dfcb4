package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.H3

/** The DuckDB oracle's base-cell literal (`bctab` in
  * [[H3OracleGen.constCtes]]) was written down once from the engine's
  * self-checked derivation. This spec keeps the two equal: a change to
  * the derivation that moves one orientation entry fails here, not only
  * in the oracle queries that happen to touch that slot. */
class H3OracleTableSpec extends AnyFunSuite {

  test("bctab literal equals the engine's derived base-cell table") {
    val ctes = H3OracleGen.constCtes
    val body = ctes.substring(ctes.indexOf("bctab("))
    val Row = """\((\d+),(\d+),(\d+),(\d+),(\d+),(\d+),([01]),([01])\)""".r
    val literal = Row.findAllMatchIn(body).map { m =>
      val v = (1 to 8).map(m.group(_).toInt)
      (v(0), v(1), v(2), v(3), v(4), v(5), v(6) == 1, v(7) == 1)
    }.toIndexedSeq
    assert(literal.size === 380)
    assert(literal === H3.baseCellTable)
  }
}
