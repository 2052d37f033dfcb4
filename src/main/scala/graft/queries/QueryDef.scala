package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** One registered engine operator: the Spark plan builder, the equivalent
  * DuckDB oracle SQL (None → driver records a weaker rows-only check), and
  * whether it belongs in the headline bench set.
  *
  * Determinism contract (the driver hash-compares canonicalized output):
  *  - every query ends in a total ORDER BY reproduced in the oracle SQL:
  *    either inside `plan`, or as the declared `order`, which must name
  *    the columns and directions of the oracle's last top-level ORDER BY
  *    (`QueryOrderSpec` checks it);
  *  - double-valued aggregates are computed via exact decimal/integer sums
  *    and a single final cast to double, so the bits are order-independent
  *    and identical across engines;
  *  - column names are aliased identically on both sides.
  *
  * `order` is for queries whose total ORDER BY exists only so the hash
  * compare is deterministic: correctness runs `fn` (`plan` sorted by
  * `order`), the bench times `plan` alone. A query whose ordering is part
  * of the operator (a top-k, a ranked board) keeps it inside `plan` and
  * declares no order.
  *
  * `benchFn` is an alternate execution the bench times instead of `plan`,
  * for exactly three queries: `c_pipeline_e2e` and `c_pipeline_fused`
  * lay their source day out once rather than per pass, and `q_taxi_full`
  * times the fused single-scan chain while the staged chain stays its
  * correctness plan (the fused chain is oracle-gated on its own as
  * `q_taxi_fused`).
  */
final case class QueryDef(
    plan: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    bench: Boolean = false,
    order: Seq[Column] = Nil,
    benchFn: Option[(SparkSession, String) => DataFrame] = None,
    // rides into the bench artifact's "notes" field, so a reader of the
    // JSON alone can interpret structurally-unequal numbers (e.g. a
    // fidelity-contract query whose timed region stages materializations
    // the single-statement comparator does not pay)
    benchNote: Option[String] = None) {

  /** What correctness runs: `plan` in its declared `order`. */
  def fn: (SparkSession, String) => DataFrame =
    if (order.isEmpty) plan else (s, dir) => plan(s, dir).orderBy(order: _*)

  /** What the bench times: `benchFn` if set, else `plan`. */
  def benched: (SparkSession, String) => DataFrame = benchFn.getOrElse(plan)
}

/** The queries' scratch directory, `target/qtmp` under the working
  * directory: the layouts, sinks and checkpoints queries write and read
  * back. */
object QTmp {
  def apply(name: String): String =
    s"${sys.props("user.dir")}/target/qtmp/$name"

  /** `name_<tag>` for one (session, fixture dir) pair: two sessions over
    * the same fixture (a test JVM's, a bench's) never share it, so
    * neither overwrites the other's files mid-read. */
  def perSession(name: String, s: SparkSession, dir: String): String =
    apply(name + "_" +
      graft.core.PathTag.tag(dir + "#" + System.identityHashCode(s)))
}
