package graft.functions

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** Writes `H3Tables.scala` from [[H3Derivation]], in place. Run from the
  * build root with [[Command]]; [[H3TablesSpec]] fails until the
  * literal matches the derivation again. */
object H3TableGen {

  val Command = """sbt "Test/runMain graft.functions.H3TableGen""""
  val Path = "src/main/scala/graft/functions/H3Tables.scala"

  /** `rows` as an `Array[Int]` body: `perLine` rows a line, each row's
    * columns comma-joined with no space, rows separated by ", ". */
  private def rowLines(rows: Seq[Seq[Int]], perLine: Int): String =
    rows.map(_.mkString(",")).grouped(perLine)
      .map("    " + _.mkString(", ")).mkString(",\n")

  def source: String =
    s"""package graft.functions
       |
       |// Generated by `$Command`
       |// from the reference derivation in the test tree. Do not edit by hand:
       |// H3TablesSpec re-derives both tables and checks them row for row.
       |
       |/** H3's two derived tables, written down as literals. [[H3]] fills
       |  * its runtime arrays from these rows at class init, and the DuckDB
       |  * oracle renders its `bctab` VALUES from [[BaseCells]]. The
       |  * derivation (base cells clustered and numbered from the published
       |  * face geometry, pentagon rotations pinned by a straddle-pair
       |  * consistency search, face edges matched vertex to vertex) lives in
       |  * the test tree as `H3Derivation`. */
       |private[graft] object H3Tables {
       |
       |  /** Base-cell table (the C library's `faceIjkBaseCells` content):
       |    * one row per (face, normalized res-0 ijk) slot, 20 faces × 19
       |    * slots, [[BaseCellCols]] columns: face, i, j, k, base cell, ccw
       |    * 60° rotation count, pentagon (0/1), and whether a pentagon's
       |    * leading-K escape rotates clockwise on this face (0/1). */
       |  val BaseCellCols = 8
       |  val BaseCells: Array[Int] = Array(
       |${rowLines(H3Derivation.baseCellRows, 5)})
       |
       |  /** Face-edge table (the C library's `faceNeighbors` content): one
       |    * row per face edge e, joining the face's res-0 vertices e and
       |    * (e+1) % 3, [[EdgeCols]] columns: face, edge, neighbour face,
       |    * ccw 60° rotation count c and the res-0 axial translation
       |    * (T₀a, T₀b) of the chart map p_G = R^c(p_F) + T. The rotation is
       |    * the same at every resolution; the res-r translation is T₀
       |    * descended r aperture-7 steps. */
       |  val EdgeCols = 6
       |  val Edges: Array[Int] = Array(
       |${rowLines(H3Derivation.edgeRows, 5)})
       |}
       |""".stripMargin

  def main(args: Array[String]): Unit = {
    Files.write(Paths.get(Path), source.getBytes(UTF_8))
    println(s"wrote $Path")
  }
}
