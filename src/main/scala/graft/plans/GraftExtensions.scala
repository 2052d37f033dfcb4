package graft.plans

import org.apache.spark.sql.{Column, GraftBridge, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions.{GeoF, TextF}

/** SparkSessionExtensions hook: graft's operator strategies and rules,
  * and its SQL functions, so `spark.sql("SELECT wkt_centroid_lng(geom) …")`
  * works next to the DataFrame API (SURVEY.md §7.3's extension point;
  * enabled via `GraftSession` or
  * `spark.sql.extensions=graft.plans.GraftExtensions`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // whole-operator extensions: as-of join + columnar frame stats +
    // skip-partial count
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
    ext.injectPlannerStrategy(_ => FrameStatsStrategy)
    ext.injectPlannerStrategy(_ => DirectAggStrategy)
    // SQL surface for the skip-partial knob (SELECT /*+ SKIP_PARTIAL_AGG */)
    ext.injectResolutionRule(_ => SkipPartialHintRule)
    // cost-based skip-partial: near-unique grouping keys per catalog NDV
    // stats (graft.core.TableStats) get the hint automatically
    ext.injectOptimizerRule(_ => AutoSkipPartialAgg)
    GraftExtensions.SqlFunctions.foreach { case (name, arity, build) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[KernelCall].getName, name),
        (args: Seq[Expression]) => {
          if (args.length != arity)
            throw new IllegalArgumentException(
              s"$name takes $arity argument(s), got ${args.length}")
          GraftBridge.expression(build(args.map(GraftBridge.column)))
        }))
    }
  }
}

object GraftExtensions {

  /** The value of an integer literal argument of SQL function `name`. */
  private def intLiteral(name: String, what: String, arg: Column): Int =
    GraftBridge.expression(arg) match {
      case Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"$name: $what must be an integer literal, got ${other.sql}")
    }

  /** The SQL functions: name, arity, and the DataFrame builder each one
    * calls, so a function's kernel, result type, nullability and argument
    * checks are stated once, in the builder. Arguments the builder takes
    * as plan constants must be integer literals in SQL. */
  val SqlFunctions: Seq[(String, Int, Seq[Column] => Column)] = Seq(
    ("wkt_centroid_lng", 1, a => GeoF.centroidLng(a(0))),
    ("wkt_centroid_lat", 1, a => GeoF.centroidLat(a(0))),
    // spherical (BigQuery-semantics) centroid option
    ("wkt_centroid_sph_lng", 1, a => GeoF.centroidSphLng(a(0))),
    ("wkt_centroid_sph_lat", 1, a => GeoF.centroidSphLat(a(0))),
    ("h3_fromgeogpoint", 3, a => GeoF.h3Cell(a(0), a(1),
      intLiteral("h3_fromgeogpoint", "res", a(2)))),
    // inverse of h3_fromgeogpoint: exact cell-center coordinates
    ("h3_cell_lat", 1, a => GeoF.h3CenterLat(a(0))),
    ("h3_cell_lng", 1, a => GeoF.h3CenterLng(a(0))),
    // hierarchy (h3lib cellToParent / cellToChildren / compactCells):
    // parent res is a runtime column (multi-res cover joins); children
    // res is a literal (the 7^k fan-out bound belongs in the plan text)
    ("h3_cell_to_parent", 2, a => GeoF.h3Parent(a(0), a(1))),
    ("h3_cell_to_children", 2, a => GeoF.h3Children(a(0),
      intLiteral("h3_cell_to_children", "res", a(1)))),
    ("h3_compact_cells", 1, a => GeoF.h3CompactArray(a(0))),
    // h3_cell_boundary emits the 6 true corners only (substrate-exact in
    // the owning chart, bit-canonical across neighbors — see
    // GeoF.h3Boundary); h3_cell_boundary_full also inserts h3lib's
    // edge-crossing distortion vertices for face-straddling cells
    ("h3_cell_boundary", 1, a => GeoF.h3Boundary(a(0))),
    ("h3_cell_boundary_full", 1, a => GeoF.h3BoundaryFull(a(0))),
    ("h3_grid_distance", 2, a => GeoF.h3GridDistance(a(0), a(1))),
    ("h3_grid_path", 2, a => GeoF.h3GridPath(a(0), a(1))),
    ("term_histogram", 1, a => TextF.termHistogram(a(0))),
    ("word_shingles", 2, a => TextF.shinglesFromTokens(a(0),
      intLiteral("word_shingles", "k", a(1)))))
}
