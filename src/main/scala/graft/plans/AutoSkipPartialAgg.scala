package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation

import graft.core.TableStats

/** Cost-based skip-partial aggregation: auto-applies
  * [[SkipPartialAggHint]] when catalog NDV stats say the grouping keys
  * are near-unique — the decision `graft.ops.DirectAgg` call sites
  * otherwise hand-wire from measurement.
  *
  * Decision rule: for `GROUP BY e₁…eₙ` over a Project/Filter chain on a
  * single stats-registered scan ([[TableStats]]), estimate
  * `groups = min(Π ndv(eᵢ), rows)`; when `groups / rows ≥ θ`
  * ([[Threshold]] = 0.5) the map-side partial pass would hash the whole
  * input for < 1/θ-fold shuffle reduction, so the aggregate is tagged
  * for [[DirectAggStrategy]]'s single-phase plan. Below θ — or whenever no
  * estimate is possible — the stock two-phase plan stands (map-side
  * combine is strictly right for low-cardinality keys).
  *
  * NDV calculus (per grouping expression, over the scan's registered
  * column NDVs): attribute → its NDV; casts and hash functions
  * (md5/sha/crc32/murmur/xxhash) → NDV of inputs (injective up to
  * negligible collisions); concat/struct of independent inputs →
  * product, capped at rows (the standard optimistic CBO cap);
  * case-normalization string ops (lower/upper/trim/regexp_replace) →
  * input NDV (optimistic, the assumption Catalyst's own estimators
  * make for deterministic scalar maps); `pmod/%` by a literal →
  * min(input NDV, modulus) — the cap that keeps bucket-assignment
  * groupings (e.g. hash-mod-100 splits) honestly low-cardinality.
  * Anything else yields NO estimate, not a guess. Filters between scan
  * and aggregate are ratio-neutral: a predicate drops rows and their
  * groups together, and near-uniqueness is preserved under subsetting
  * (a key that appears once appears at most once in any subset).
  *
  * Deliberately OUT of scope: aggregates over joins, explodes, unions
  * or other aggregates. Their group cardinality is collision structure
  * — how often LSH bands or shingles actually collide — which no static
  * statistic carries; those hot paths keep their measured hand hints
  * (`DirectAgg` call sites), exactly like join-strategy hints
  * complement the join cost model.
  *
  * Runs as an injected optimizer rule, so column pruning has already
  * collapsed the chain to Project/Filter over the scan, and only the
  * hint slot changes — analysis, optimization, and correctness are
  * untouched (the physical guard in [[DirectAggStrategy]] re-checks
  * aggregate compatibility either way).
  */
object AutoSkipPartialAgg extends Rule[LogicalPlan] {

  /** θ: the estimated groups-per-input-row ratio at and above which the
    * aggregate skips its partial pass. */
  val Threshold: Double = 0.5

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case a: Aggregate
        if a.hint.isEmpty && a.groupingExpressions.nonEmpty &&
          a.groupingExpressions.forall(_.deterministic) &&
          compatible(a) && ratio(a).exists(_ >= Threshold) =>
      a.copy(hint = Some(SkipPartialAggHint))
  }

  /** Mirror of [[DirectAggStrategy]]'s physical guard at the logical
    * level, so the hint is only placed where the single-phase plan can
    * actually be taken. */
  private def compatible(a: Aggregate): Boolean = {
    val aggs = a.aggregateExpressions.flatMap(_.collect {
      case ae: AggregateExpression => ae
    })
    aggs.forall(ae => !ae.isDistinct && ae.filter.isEmpty &&
      ae.aggregateFunction.aggBufferAttributes
        .forall(b => UnsafeRow.isMutable(b.dataType)))
  }

  /** Estimated distinct-groups / input-rows, when lineage reaches one
    * stats-registered scan. */
  private def ratio(a: Aggregate): Option[Double] = {
    val resolved = a.groupingExpressions.map(resolveToScan(_, a.child))
    if (resolved.exists(_.isEmpty)) return None
    val byRel = resolved.flatten
    val rels = byRel.map(_._2).distinct
    if (rels.size != 1) return None
    for {
      key <- TableStats.keyOf(rels.head)
      stat <- TableStats.lookup(key)
      if stat.rows > 0
      ndvs <- traverseNdv(byRel.map(_._1), stat)
    } yield {
      val groups = math.min(
        ndvs.foldLeft(1.0)((acc, n) => math.min(acc * n, stat.rows.toDouble)),
        stat.rows.toDouble)
      groups / stat.rows
    }
  }

  /** Inline `e` through Project/Filter/alias layers until it is an
    * expression over one scan's output, or give up. */
  @annotation.tailrec
  private def resolveToScan(e0: Expression,
      plan0: LogicalPlan): Option[(Expression, LogicalRelation)] =
    plan0 match {
      case Project(list, child) =>
        val m = AttributeMap(list.collect {
          case al: Alias => (al.toAttribute: Attribute, al.child)
        })
        val e = e0.transformUp { case at: Attribute => m.getOrElse(at, at) }
        resolveToScan(e, child)
      case Filter(_, child) => resolveToScan(e0, child)
      case SubqueryAlias(_, child) => resolveToScan(e0, child)
      case r: LogicalRelation => Some((e0, r))
      case _ => None
    }

  private def traverseNdv(es: Seq[Expression],
      stat: TableStats.Stat): Option[Seq[Double]] = {
    val ns = es.map(ndvOf(_, stat))
    if (ns.exists(_.isEmpty)) None else Some(ns.flatten)
  }

  /** The NDV calculus (scaladoc above); None = no honest estimate. */
  private def ndvOf(e: Expression, stat: TableStats.Stat): Option[Double] = {
    def product(children: Seq[Expression]): Option[Double] = {
      val ns = children.map(ndvOf(_, stat))
      if (ns.exists(_.isEmpty)) None
      else Some(math.min(ns.flatten.product, stat.rows.toDouble))
    }
    e match {
      case a: Attribute => stat.ndv.get(a.name).map(_.toDouble)
      case _: Literal => Some(1.0)
      case c: Cast => ndvOf(c.child, stat)
      case h @ (_: Md5 | _: Sha1 | _: Sha2 | _: Crc32 | _: Murmur3Hash |
                _: XxHash64) => product(h.children)
      case n @ (_: Lower | _: Upper | _: StringTrim | _: StringTrimLeft |
                _: StringTrimRight | _: RegExpReplace) =>
        ndvOf(n.children.head, stat)
      case Pmod(x, Literal(m: Number, _), _) =>
        ndvOf(x, stat).map(n => math.min(n, math.abs(m.doubleValue())))
      case Remainder(x, Literal(m: Number, _), _) =>
        // remainder keeps sign: up to 2·|m|−1 values
        ndvOf(x, stat).map(n => math.min(n, 2 * math.abs(m.doubleValue()) - 1))
      case c: Concat => product(c.children)
      case c: ConcatWs => product(c.children.drop(1))
      case s: CreateNamedStruct => product(s.valExprs)
      // Disjoint-bit key pack `(a << k) | b`: injective — hence NDV =
      // product — ONLY when the exact range stats prove a ≥ 0 and
      // 0 ≤ b < 2^k (disjoint bit fields). BitwiseOr in general admits
      // no honest estimate; the range proof is what licenses this one.
      case bo: BitwiseOr => (bo.left, bo.right) match {
        case (ShiftLeft(a, Literal(k: Int, _)), b) if k > 0 && k < 63 =>
          for {
            na <- ndvOf(a, stat)
            nb <- ndvOf(b, stat)
            (aLo, aHi) <- rangeOf(a, stat)
            (bLo, bHi) <- rangeOf(b, stat)
            // the shifted operand must be 64-bit (an IntegerType shift
            // is mod-32 — shiftleft(x,32)=x — so the "disjoint fields"
            // reading is wrong) AND keep all its bits after the shift
            // (aHi ≤ 2^(63-k)−1), else collisions break injectivity
            if a.dataType == org.apache.spark.sql.types.LongType &&
              aLo >= 0 && aHi <= (Long.MaxValue >> k) &&
              bLo >= 0 && bHi < (1L << k)
          } yield math.min(na * nb, stat.rows.toDouble)
        case _ => None
      }
      case _ => None
    }
  }

  /** Exact value range of an expression, when it is (a cast of) a
    * stats-registered column. */
  private def rangeOf(e: Expression,
      stat: TableStats.Stat): Option[(Long, Long)] = e match {
    case a: Attribute => stat.range.get(a.name)
    case c: Cast => rangeOf(c.child, stat)
    case _ => None
  }
}
