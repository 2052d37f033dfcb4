package graft.queries

import graft.functions.H3Tables

/** Generator for the independent DuckDB-SQL H3 forward (`latLngToCell`)
  * at ANY odd resolution, over an arbitrary keyed point relation —
  * round 12's generalization of the handwritten res-9 forward that has
  * gated `f6_hex_index`/`x_h3_roundtrip` since round 10 (same algorithm,
  * same published constants; see [[H3OracleSql]] for the full
  * provenance/authorship scaladoc). The SQL text is GENERATED, but the
  * algorithm is authored here stage by stage against the published H3
  * spec — nothing is produced from engine code paths, and the engine's
  * Scala implementation shares no code with this text.
  *
  * Parameterizing the forward is what makes probe-grid oracles possible:
  * the round-12 oracles for `x_h3_ring` / `x_h3_spatial_join` /
  * `x_h3_grid_distance` / `x_h3_polyfill` evaluate this forward over
  * tens of thousands of deterministic grid points and recover cell
  * ADJACENCY (boundary-crossing witness pairs between grid-neighbor
  * probes) and cell CENTERS (staged refinement through the digit-0
  * center-chain cells) with no H3 traversal or inverse code in SQL at
  * all — geometry in, 64-bit ids out, everything in between is DuckDB
  * re-deriving the published algorithm for itself.
  *
  * Only ODD resolutions are supported (every oracle res used is odd:
  * 3, 5, 7, 9, 11, 13, 15) — the initial hex-grid rotation is Class III
  * for odd res, which is what the projection stage implements; an
  * even-res caller gets an exception, not silently wrong SQL.
  */
object H3OracleGen {

  /** Published face-center geometry (H3 `faceijk.c`) — shared constant. */
  private val facesRows: String =
    """    (0, 0.80358264971899, 1.2483974196173961, 5.6199582685239395),
    (1, 1.3077478834556382, 2.5369450098779214, 5.7603390817141875),
    (2, 1.054751253523952, -1.3475173589003966, 0.78021365439343),
    (3, 0.6001915955381868, -0.45060390946975576, 0.4304693639799999),
    (4, 0.49171542819877384, 0.40198820291130694, 6.130269123335111),
    (5, 0.1727453274156187, 1.6781468852804338, 2.692877706530643),
    (6, 0.6059293215713507, 2.9539233298124117, 2.982963003477244),
    (7, 0.42737051832897965, -1.8888762003362853, 3.532912002790141),
    (8, -0.07906611854921283, -0.7334295133808677, 3.494305004259568),
    (9, -0.23096164445538364, 0.506495587332349, 3.0032141694995382),
    (10, 0.07906611854921283, 2.4081631402089254, 5.930472956509812),
    (11, 0.23096164445538364, -2.635097066257444, 0.13837848409025486),
    (12, -0.1727453274156187, -1.4634457683093596, 0.4487149470591504),
    (13, -0.6059293215713507, -0.18766932377738163, 0.15862965011254937),
    (14, -0.42737051832897965, 1.2527164532535078, 5.891865957979238),
    (15, -0.6001915955381868, 2.6909887441200375, 2.711123289609793),
    (16, -0.49171542819877384, -2.7396044506784865, 3.294508837434268),
    (17, -0.80358264971899, -1.8931952339723972, 3.80481969224544),
    (18, -1.3077478834556382, -0.6046476437118721, 3.6644388790551923),
    (19, -1.054751253523952, 1.7940752946893965, 2.361378999196363)"""

  /** The two shared VALUES CTEs. Emit exactly once per query, at the
    * head of the WITH list, before any [[forward]] block. */
  val constCtes: String = {
    // the base-cell table (`faceIjkBaseCells` content): the literal the
    // engine reads, six (face, i, j, k, bc, rot, pent, cw) rows a line
    val bctab = H3Tables.BaseCells.grouped(H3Tables.BaseCellCols)
      .map(_.mkString("(", ",", ")")).grouped(6)
      .map("    " + _.mkString(", ")).mkString(",\n")
    s"""faces(f, flat, flng, faz) AS (VALUES
       |$facesRows),
       |bctab(bf, bi, bj, bk, bc, brot, bpent, bcw) AS (VALUES
       |$bctab)""".stripMargin
  }

  /** One 60-degree rotation of an aperture-7 digit by `steps` (both SQL
    * snippets): digit -> CCW direction ordinal -> +steps mod 6 ->
    * digit; the center digit 0 is fixed. */
  private def rot60(d: String, steps: String): String =
    s"CASE WHEN $d = 0 THEN 0 ELSE (CASE ((CASE $d WHEN 1 THEN 0 WHEN 5 THEN 1" +
      s" WHEN 4 THEN 2 WHEN 6 THEN 3 WHEN 2 THEN 4 WHEN 3 THEN 5 END) + $steps) % 6" +
      " WHEN 0 THEN 1 WHEN 1 THEN 5 WHEN 2 THEN 4 WHEN 3 THEN 6 WHEN 4 THEN 2" +
      " WHEN 5 THEN 3 END) END"

  private def rotList(l: String, steps: String): String =
    s"list_transform($l, d -> ${rot60("d", steps)})"

  private def firstNz(l: String): String =
    s"coalesce(list_filter($l, d -> d != 0)[1], 0)"

  /** Column names the generated stages use internally — a key column
    * shadowing one would silently corrupt joins (found the hard way:
    * a key named `k` captured the bctab lookup's ijk coordinate and
    * dropped 147 of 150 rows). */
  private val ReservedCols: Set[String] =
    Set("phi", "lam", "face", "dot", "theta", "m1", "m2", "hx", "hy",
      "ci", "cj", "dx", "dy", "best", "bi2", "bj2", "m", "i", "j", "k",
      "li", "lj", "lk", "ai", "aj", "ui", "uj", "uk", "ui0", "uj0",
      "ci0", "cj0", "ck0", "digits", "bc", "rot", "pent", "cwoff", "h",
      "f", "flat", "flng", "faz", "bf", "bi", "bj", "bk", "brot",
      "bpent", "bcw") ++ (0 to 15).map(d => s"d$d") ++
      (0 to 4).map(t => s"pd$t")

  /** CTE blocks computing the H3 forward at odd `res` for every row of
    * CTE `src` (columns: `keys...`, `phi`, `lam` — radians), producing
    * CTE `out`(`keys...`, `h` BIGINT). Intermediate CTE names are
    * suffixed `_<out>` so multiple forwards compose in one query.
    * Returns text to splice into the WITH list (leading comma included).
    */
  def forward(src: String, res: Int, keys: Seq[String], out: String): String = {
    require(res % 2 == 1 && res >= 1 && res <= 15,
      s"forward oracle supports odd res 1..15, got $res")
    val clash = keys.map(_.toLowerCase).toSet.intersect(ReservedCols)
    require(clash.isEmpty,
      s"forward key column(s) $clash shadow generated stage columns")
    val ks = keys.mkString(", ")
    val fpks = keys.map("fp." + _).mkString(", ")
    val sqrt7s = Seq.fill(res)("sqrt(7)").mkString("*")
    val sb = new StringBuilder

    // nearest-face argmax
    sb ++= s""",
fp_$out AS (
  SELECT $ks, phi, lam,
         arg_max(f, cos(phi)*cos(flat)*cos(lam - flng) + sin(phi)*sin(flat)) AS face,
         max(cos(phi)*cos(flat)*cos(lam - flng) + sin(phi)*sin(flat)) AS dot
  FROM $src CROSS JOIN faces
  GROUP BY $ks, phi, lam
),"""

    // gnomonic projection into the face plane, Class III rotation (odd
    // res), aperture-7 scaling by sqrt(7) per res step
    sb ++= s"""
pj_$out AS (
  SELECT $ks, face,
         CASE WHEN acos(greatest(-1.0, least(1.0, dot))) < 1e-15 THEN 0.0
              ELSE tan(acos(greatest(-1.0, least(1.0, dot)))) / 0.38196601125010500003
                   * $sqrt7s
                   * cos(theta) END AS hx,
         CASE WHEN acos(greatest(-1.0, least(1.0, dot))) < 1e-15 THEN 0.0
              ELSE tan(acos(greatest(-1.0, least(1.0, dot)))) / 0.38196601125010500003
                   * $sqrt7s
                   * sin(theta) END AS hy
  FROM (
    SELECT $ks, face, dot,
           CASE WHEN m2 < 0 THEN m2 + 2*pi() ELSE m2 END AS theta
    FROM (
      SELECT $ks, face, dot,
             fmod(faz - (CASE WHEN m1 < 0 THEN m1 + 2*pi() ELSE m1 END)
                  - asin(sqrt(3.0/28.0)) + 2*pi(), 2*pi()) AS m2
      FROM (
        SELECT $fpks, fp.face, fp.dot, fc.faz,
               fmod(atan2(cos(phi)*sin(lam - fc.flng),
                          cos(fc.flat)*sin(phi)
                          - sin(fc.flat)*cos(phi)*cos(lam - fc.flng)), 2*pi()) AS m1
        FROM fp_$out fp JOIN faces fc ON fc.f = fp.face
      )
    )
  )
),"""

    // exact nearest hex center over the 4 enclosing parallelogram
    // corners, then normalize to cube ijk
    sb ++= s"""
rd_$out AS (
  SELECT $ks, face, bi2 - m AS i, bj2 - m AS j, -m AS k
  FROM (
    SELECT *, least(bi2, bj2, 0) AS m
    FROM (
      SELECT $ks, face,
             CAST(best // 2147483648 AS BIGINT) - 1073741824 AS bi2,
             CAST(best % 2147483648 AS BIGINT) - 1073741824 AS bj2
      FROM (
        SELECT $ks, face,
               arg_min((ci + 1073741824) * 2147483648 + (cj + 1073741824),
                       (ci - 0.5*cj - hx)*(ci - 0.5*cj - hx)
                       + (cj*sqrt(3.0)/2.0 - hy)*(cj*sqrt(3.0)/2.0 - hy)) AS best
        FROM (
          SELECT $ks, face, hx, hy,
                 CAST(floor(hx + (hy / (sqrt(3.0)/2.0)) * 0.5) AS BIGINT) + dx AS ci,
                 CAST(floor(hy / (sqrt(3.0)/2.0)) AS BIGINT) + dy AS cj
          FROM pj_$out CROSS JOIN (VALUES (0,0),(1,0),(0,1),(1,1)) corners(dx, dy)
        )
        GROUP BY $ks, face
      )
    )
  )
)"""

    // digit-extraction stages, res down to 1; digits accumulate as
    // carried columns (no end-of-pipeline self-join)
    for (r <- res to 1 by -1) {
      val tin = if (r == res) s"rd_$out" else s"st${r + 1}_$out"
      val carried = (res to (r + 1) by -1).map(d => s"d$d")
      val carry = if (carried.isEmpty) "" else carried.mkString(", ", ", ", "")
      val (uiNum, ujNum, ci0, cj0, ck0) =
        if (r % 2 == 1)
          ("3.0*ai - aj", "ai + 2.0*aj", "3*ui + uj", "3*uj + uk", "ui + 3*uk")
        else
          ("2.0*ai + aj", "3.0*aj - ai", "3*ui + uk", "ui + 3*uj", "uj + 3*uk")
      sb ++= s""",
st${r}_$out AS (
  SELECT $ks, face$carry, ui AS i, uj AS j, uk AS k,
         4*(li - ci0 - m2) + 2*(lj - cj0 - m2) + (lk - ck0 - m2) AS d$r
  FROM (
    SELECT *, least(li - ci0, lj - cj0, lk - ck0) AS m2
    FROM (
      SELECT *, $ci0 AS ci0, $cj0 AS cj0, $ck0 AS ck0
      FROM (
        SELECT *, ui0 - m AS ui, uj0 - m AS uj, -m AS uk
        FROM (
          SELECT *, least(ui0, uj0, 0) AS m
          FROM (
            SELECT $ks, face$carry, i AS li, j AS lj, k AS lk,
                   CAST(floor(($uiNum)/7.0 + 0.5) AS BIGINT) AS ui0,
                   CAST(floor(($ujNum)/7.0 + 0.5) AS BIGINT) AS uj0
            FROM (SELECT *, CAST(i - k AS DOUBLE) AS ai,
                         CAST(j - k AS DOUBLE) AS aj FROM $tin)
          )
        )
      )
    )
  )
)"""
    }

    // base-cell lookup on the res-0 ijk, then the pentagon finishing
    // path: leading-K escape (one cw/ccw rotation) + up to `rot`
    // K-skipping pentagon rotations; hexagons rotate all digits by rot
    val digitsList = (1 to res).map(d => s"d$d").mkString("[", ", ", "]")
    sb ++= s""",
lk_$out AS (
  SELECT $ks, $digitsList AS digits, bc, brot AS rot,
         bpent = 1 AS pent, bcw = 1 AS cwoff
  FROM st1_$out JOIN bctab ON bf = face AND bi = i AND bj = j AND bk = k
),
pf0_$out AS (
  SELECT $ks, bc, rot, pent, digits,
         CASE WHEN pent AND ${firstNz("digits")} = 1
              THEN CASE WHEN cwoff THEN ${rotList("digits", "5")}
                        ELSE ${rotList("digits", "1")} END
              ELSE digits END AS pd0
  FROM lk_$out
)"""
    for (t <- 1 to 4) {
      val prev = s"pd${t - 1}"
      val once = rotList(prev, "1")
      sb ++= s""",
pf${t}_$out AS (
  SELECT *,
         CASE WHEN pent AND rot >= $t
              THEN CASE WHEN ${firstNz(once)} = 1
                        THEN ${rotList(once, "1")}
                        ELSE $once END
              ELSE $prev END AS pd$t
  FROM pf${t - 1}_$out
)"""
    }
    // MATERIALIZED: DuckDB inlines CTEs by default, so a forward output
    // referenced N times would re-run the whole projection/digit
    // pipeline N times (the first polyfill-oracle draft timed out
    // exactly this way — 4 chained stages re-expanded exponentially)
    val trailing = (1L << (3 * (15 - res))) - 1
    sb ++= s""",
$out AS MATERIALIZED (
  SELECT $ks,
         576460752303423488 + $res * 4503599627370496
         + bc * 35184372088832
         + list_sum(list_transform(
             CASE WHEN pent THEN pd4 ELSE ${rotList("digits", "rot")} END,
             (d, idx) -> d * CAST(round(power(8.0, 15 - idx)) AS BIGINT)))
         + $trailing AS h
  FROM pf4_$out
)"""
    sb.toString
  }
}
