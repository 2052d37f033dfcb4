package graft.queries

/** Shared DuckDB oracle SQL fragments. These are the SQL-side halves of
  * lockstep pairs (Spark expression ↔ oracle fragment); keeping ONE copy
  * per fragment is what keeps the pairs from drifting — editing a hash
  * width or tokenizer guard in one query's private copy while others keep
  * the old text would silently desynchronize CORRECTNESS.
  *
  * Lockstep partners: [[OracleSql.hash]] ↔ `graft.functions.HashF
  * .tokenHash`; [[OracleSql.lowerToks]] ↔ `TextF.lowerTokens`;
  * [[OracleSql.gapsAndIslands]] ↔ the three sessionizers
  * (`x_sessionize`, `st_stream_session`, `st_sessions_custom_state`);
  * [[OracleSql.planeLit]] ↔ `VectorF.plane`; [[OracleSql.signCode]] ↔
  * `VectorF.planeSignBits` / `VectorF.lshBucket`.
  */
object OracleSql {

  /** Lowercase whitespace tokens of `text` (empty doc → []). */
  val lowerToks: String =
    """CASE WHEN length(trim(lower(text))) = 0 THEN []::VARCHAR[]
      |     ELSE string_split_regex(trim(lower(text)), '\s+') END""".stripMargin

  /** md5-prefix uint32 hash of SQL expression `c` (≡ HashF.tokenHash). */
  def hash(c: String): String = s"('0x'||substr(md5($c),1,8))::BIGINT"

  /** The one copy of the shingle-window semantics: k consecutive tokens
    * of `t` starting at 1-based position i, space-joined. */
  private def shingleCat(k: Int): String =
    (0 until k).map(o => s"t[i+$o]").mkString(" || ' ' || ")

  /** Word k-shingles (NON-distinct, order-preserving) from a token-list
    * column `t`; `[]` when the doc is shorter than k tokens
    * (≡ `TextF.shinglesFromTokens` — same guard, same separator). */
  def shingleList(k: Int): String =
    s"CASE WHEN len(t) >= $k THEN " +
      s"list_transform(range(1, len(t) - ${k - 2}), i -> ${shingleCat(k)}) " +
      "ELSE []::VARCHAR[] END"

  /** Position-carrying variant of [[shingleList]]: a list of
    * `{pos, sh}` structs (pos is the 1-based start token index — the
    * Spark lockstep partner is `posexplode(TextF.shinglesFromTokens)`
    * + 1). Same guard, same separator, same window set. */
  def shinglePosList(k: Int): String =
    s"CASE WHEN len(t) >= $k THEN " +
      s"list_transform(range(1, len(t) - ${k - 2}), " +
      s"i -> {'pos': i, 'sh': ${shingleCat(k)}}) " +
      "ELSE []::STRUCT(pos BIGINT, sh VARCHAR)[] END"

  /** Hyperplane `p` of the `dim`-dimensional family as a DuckDB list
    * literal (≡ `VectorF.plane(p, dim)`). */
  def planeLit(p: Int, dim: Int): String =
    graft.functions.VectorF.plane(p, dim).map(d => s"$d").mkString("[", ",", "]")

  /** Sign code of the DOUBLE[] expression `vec` over hyperplanes
    * `planes`: bit i is set iff `vec · planes(i) >= 0`. */
  def signCode(vec: String, planes: Seq[Int], dim: Int): String =
    planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_dot_product($vec, ${planeLit(p, dim)}) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")

  /** Gaps-and-islands sessionization over `events`, parameterized by the
    * one load-bearing character each sessionizer differs in:
    *  - `breakOp`: ">" (x_sessionize / custom-state: gap strictly greater
    *    splits) or ">=" (session_window's half-open interval semantics);
    *  - `tieBreak`: extra ordering column for equal timestamps (None when
    *    the aggregates are tie-order invariant);
    *  - `withSeq`: expose the session sequence number (x_sessionize's
    *    schema) or the start-time-keyed schema. */
  def gapsAndIslands(gapUs: Long, breakOp: String,
                     tieBreak: Option[String], withSeq: Boolean): String = {
    val tieSel = tieBreak.filter(_ != "value").map(c => s", $c").getOrElse("")
    val tie = tieBreak.map(c => s", $c").getOrElse("")
    val head =
      if (withSeq)
        """SELECT user_id, session_seq, CAST(count(*) AS BIGINT) AS n_events,
          |       min(us) AS start_us, max(us) AS end_us,""".stripMargin
      else
        """SELECT user_id, min(us) AS start_us, max(us) AS end_us,
          |       CAST(count(*) AS BIGINT) AS n_events,""".stripMargin
    val order = if (withSeq) "user_id, session_seq" else "user_id, start_us"
    s"""WITH x AS (
       |  SELECT user_id, value, epoch_us(ts) AS us$tieSel,
       |         lag(epoch_us(ts)) OVER (PARTITION BY user_id
       |                                 ORDER BY epoch_us(ts)$tie)
       |           AS prev_us
       |  FROM events
       |), y AS (
       |  SELECT user_id, value, us$tieSel,
       |         CASE WHEN prev_us IS NULL OR us - prev_us $breakOp $gapUs
       |              THEN 1 ELSE 0 END AS brk
       |  FROM x
       |), z AS (
       |  SELECT user_id, value, us,
       |         CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY us$tie
       |                             ROWS UNBOUNDED PRECEDING) AS BIGINT)
       |           AS session_seq
       |  FROM y
       |)
       |$head
       |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
       |FROM z GROUP BY user_id, session_seq
       |ORDER BY $order""".stripMargin
  }
}
