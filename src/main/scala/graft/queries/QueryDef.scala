package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered engine operator: the Spark plan builder, the equivalent
  * DuckDB oracle SQL (None → driver records a weaker rows-only check), and
  * whether it belongs in the headline bench set.
  *
  * Determinism contract (the driver hash-compares canonicalized output):
  *  - every query ends in a total ORDER BY reproduced in the oracle SQL;
  *  - double-valued aggregates are computed via exact decimal/integer sums
  *    and a single final cast to double, so the bits are order-independent
  *    and identical across engines;
  *  - column names are aliased identically on both sides.
  */
final case class QueryDef(
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    bench: Boolean = false,
    benchFn: Option[(SparkSession, String) => DataFrame] = None,
    // rides into the bench artifact's "notes" field, so a reader of the
    // JSON alone can interpret structurally-unequal numbers (e.g. a
    // fidelity-contract query whose timed region stages materializations
    // the single-statement comparator does not pay)
    benchNote: Option[String] = None) {

  /** What the bench times: `benchFn` when the canonical `fn` carries
    * oracle-only artifacts (a total ORDER BY that exists solely so the
    * hash compare is deterministic, or one-time setup writes), OR when
    * the bench runs an equality-proven alternate execution mode of the
    * same operator (e.g. `q_taxi_full` benches the fused single-scan
    * mode while the staged chain stays the canonical correctness fn —
    * sanctioned only if the alternate mode is itself oracle-gated under
    * its own registered name, and the mode switch is disclosed wherever
    * the bench series is compared across rounds). Else `fn` itself.
    * Correctness always runs `fn`. */
  def benched: (SparkSession, String) => DataFrame = benchFn.getOrElse(fn)
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
