package graft.functions

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.H3OracleGen

/** The H3 tables are literals ([[H3Tables]]) that the engine reads at
  * class init and the DuckDB oracle renders as its `bctab` VALUES. This
  * spec re-runs the reference derivation ([[H3Derivation]]: base-cell
  * clustering and numbering, the pentagon consistency search, face-edge
  * matching, each with its own `require` self-checks) and checks the
  * literals, the runtime arrays `H3` fills from them, and the oracle's
  * rendering against it. */
class H3TablesSpec extends AnyFunSuite {

  private val Regen = s"regenerate H3Tables.scala with ${H3TableGen.Command}"

  private def rows(flat: Array[Int], cols: Int): IndexedSeq[Seq[Int]] =
    flat.grouped(cols).map(_.toSeq).toIndexedSeq

  private def assertRows(name: String, literal: IndexedSeq[Seq[Int]],
      derived: IndexedSeq[Seq[Int]]): Unit = {
    assert(literal.size === derived.size,
      s"$name: ${literal.size} literal rows, ${derived.size} derived; $Regen")
    val bad = literal.indices.find(n => literal(n) != derived(n))
    assert(bad.isEmpty, bad.map { n =>
      s"$name row $n: literal ${literal(n)}, derived ${derived(n)}; $Regen"
    }.getOrElse(""))
  }

  test("base-cell literal equals the derivation row for row") {
    assert(H3Derivation.baseCellRows.size === 20 * 19)
    assertRows("BaseCells",
      rows(H3Tables.BaseCells, H3Tables.BaseCellCols),
      H3Derivation.baseCellRows)
  }

  test("face-edge literal equals the derivation row for row") {
    assert(H3Derivation.edgeRows.size === 20 * 3)
    assertRows("Edges", rows(H3Tables.Edges, H3Tables.EdgeCols),
      H3Derivation.edgeRows)
  }

  test("runtime tables equal the derivation at every resolution") {
    assert(H3.TabBc.toSeq === H3Derivation.TabBc.toSeq)
    assert(H3.TabRot.toSeq === H3Derivation.TabRot.toSeq)
    assert(H3.IsPent.toSeq === H3Derivation.IsPent.toSeq)
    assert(H3.PentCwOffset.toSeq === H3Derivation.PentCwOffset.toSeq)
    // the literal stores each edge map once, at res 0: the derived
    // rotation must be res-invariant and every derived res-r
    // translation the res-0 one descended r steps
    for (f <- 0 until 20; e <- 0 until 3; r <- 0 to H3.MaxRes) {
      val at = s"face $f edge $e res $r"
      assert(H3.EdgeFace(f)(e) === H3Derivation.EdgeFace(f)(e), at)
      assert(H3.EdgeRot(f)(e)(r) === H3Derivation.EdgeRot(f)(e)(r), at)
      assert(H3.EdgeTA(f)(e)(r) === H3Derivation.EdgeTA(f)(e)(r), at)
      assert(H3.EdgeTB(f)(e)(r) === H3Derivation.EdgeTB(f)(e)(r), at)
    }
  }

  test("pentagonCenters match the derived vertex centres to 1e-12°") {
    val derived = (0 until H3.NumBaseCells).filter(H3Derivation.IsPent)
    assert(H3.pentagonCenters.map(_._1) === derived)
    for ((bc, lat, lng) <- H3.pentagonCenters) {
      val dLat = math.toDegrees(H3Derivation.PentLat(bc))
      val dLng = math.toDegrees(H3Derivation.PentLng(bc))
      assert(math.abs(lat - dLat) < 1e-12 && math.abs(lng - dLng) < 1e-12,
        s"pentagon $bc: ($lat, $lng) vs derived ($dLat, $dLng)")
    }
  }

  test("oracle bctab VALUES equal the derived base-cell table") {
    val ctes = H3OracleGen.constCtes
    val body = ctes.substring(ctes.indexOf("bctab("))
    val Row = """\((\d+),(\d+),(\d+),(\d+),(\d+),(\d+),([01]),([01])\)""".r
    val rendered = Row.findAllMatchIn(body)
      .map(m => (1 to 8).map(m.group(_).toInt)).toIndexedSeq
    assertRows("bctab", rendered, H3Derivation.baseCellRows)
  }
}
