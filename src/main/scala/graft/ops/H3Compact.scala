package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GeoF

/** Distributed h3lib `compactCells` over a cell column: replace every
  * complete sibling set (7 children, 6 for a pentagon parent) by its
  * parent, repeated to res 0 — the cover-minimization step between
  * polyfill and the multi-res containment join.
  *
  * Shape, designed for the 100 TB cover (billions of fine cells from
  * millions of polygons):
  *
  *   - Merge decisions are ANCESTOR-LOCAL: whether a parent's sibling
  *     set is complete depends only on cells below that parent. So one
  *     shuffle that co-groups cells by their res-(r−Span) ancestor
  *     decides ALL merges across `Span` levels at once, with the pure
  *     kernel ([[graft.functions.H3.compactCells]] via
  *     [[graft.functions.GeoF.h3CompactArray]]) running per group.
  *   - Group state is bounded by construction: ≤ 7^Span = 2401 cells
  *     (~40 KB of hex ids) per ancestor group — no skew can exceed it,
  *     so executor memory is safe at any input scale.
  *   - Each iteration shrinks the continuing set ≥ 7^Span× (only cells
  *     promoted all the way to the anchor res continue), so the loop
  *     runs ceil(res/Span) shuffles of geometrically shrinking volume
  *     — res 9 input is 3 shuffles, the 2nd on ≤ 1/2401 of the data.
  *
  * Input cells must be distinct per group and of one resolution
  * (h3lib's `compactCells` contract); `collect_set` enforces per-group
  * distinctness structurally, and the kernel `require`s uniform res.
  */
object H3Compact {

  /** Levels folded per shuffle; 7^4 = 2401 bounds per-group state. */
  val Span = 4

  /** Compact `df`'s `cellCol` (uniform-res H3 hex ids) within each
    * `groupCols` scope (e.g. the owning polygon id — pass Nil for a
    * single global cover). Returns `groupCols :+ cellCol` with the
    * minimal mixed-res cover.
    *
    * `res` is the input resolution — a plan-time constant (the caller
    * polyfilled or indexed at a known res), kept explicit so the loop
    * bound never needs a driver-side peek at the data. */
  def compact(df: DataFrame, cellCol: String, res: Int,
              groupCols: Seq[String] = Nil): DataFrame = {
    require(res >= 0 && res <= graft.functions.H3.MaxRes,
      s"res $res out of range")
    val gcols: Seq[Column] = groupCols.map(col)
    var cur = df.select(gcols :+ col(cellCol): _*)
    var out: Option[DataFrame] = None
    var r = res
    while (r > 0) {
      val anchor = math.max(0, r - Span)
      val packed = cur
        .groupBy(gcols :+ GeoF.h3Parent(col(cellCol), anchor).as("_anc"): _*)
        .agg(collect_set(col(cellCol)).as("_kids"))
        .select(gcols :+
          explode(GeoF.h3CompactArray(col("_kids"))).as(cellCol): _*)
      // Cells still above the anchor res are FINAL: their parents were
      // incomplete, and every potential sibling shared the anchor
      // ancestor, hence sat in the same group. Cells AT the anchor res
      // may still merge against cells from other groups — they continue.
      val done = packed.filter(GeoF.h3Resolution(col(cellCol)) > anchor)
      out = Some(out.map(_.unionAll(done)).getOrElse(done))
      cur = packed.filter(GeoF.h3Resolution(col(cellCol)) === anchor)
      r = anchor
    }
    out.map(_.unionAll(cur)).getOrElse(cur)
  }

  /** Inverse — h3lib `uncompactCells`: expand a mixed-res cover to
    * uniform `res` cells. Pure per-row explode, no shuffle. */
  def uncompact(df: DataFrame, cellCol: String, res: Int,
                groupCols: Seq[String] = Nil): DataFrame =
    df.select(groupCols.map(col) :+
      explode(GeoF.h3Children(col(cellCol), res)).as(cellCol): _*)
}
