package graft.functions

import java.lang.Math._

/** Uber H3 cell indexing — `latLngToCell` (geo → res-r cell id), the
  * reference's `` `carto-os`.carto.H3_FROMGEOGPOINT(point, res) `` slot
  * (reference `taxi_trips_etl_packages/queries/enrichment_query.py:10,17`),
  * implemented from the PUBLISHED H3 algorithm and geometry (Uber H3 core
  * library docs + paper "H3: A Hexagonal Hierarchical Geospatial Indexing
  * System"): icosahedral gnomonic projection, aperture-7 hex grid with
  * alternating Class II/III orientation, 122 base cells (110 hexagons +
  * 12 pentagons at the icosahedron vertices), 64-bit index layout
  * (mode 1, 4-bit resolution, 7-bit base cell, 15 × 3-bit digits).
  *
  * What is taken from the published source verbatim: the 20 face-center
  * coordinates and face i-axis azimuths (`faceijk.c` constants — pure
  * geometry of H3's fixed icosahedron orientation) and the algorithm
  * structure. What is DERIVED rather than copied: the base-cell table
  * (`baseCellData` / `faceIjkBaseCells` in the C library) and the
  * face-neighbour table (`faceNeighbors`), reconstructed from the face
  * geometry alone. Both are literals in [[H3Tables]], which this object
  * reads into its runtime arrays at class init; the derivation lives in
  * the test tree (`H3Derivation`), and `H3TablesSpec` re-runs it and
  * checks the literals row for row. It clusters every res-0 cell
  * appearance on every face, numbers cells by DESCENDING LATITUDE of
  * their centers (H3's published base-cell numbering), recovers each
  * hexagon appearance's 60°-rotation offset from the bearing mismatch
  * between face grids, and pins each pentagon appearance's rotation by
  * a consistency search (the five faces around a pentagon meet at 72°,
  * not 60°: every straddling point pair across a face boundary must
  * index identically, and no pentagon index may carry a leading K
  * digit). End-to-end fidelity is asserted in `H3Spec` against
  * published test vectors (e.g. geo→cell of the H3 README's own
  * examples); `H3Spec` documents which pentagon vectors are externally
  * validated. No taxi/test fixture touches a pentagon (all 12 sit in
  * ocean).
  *
  * Scale: pure per-row arithmetic (trig + integer digit loop, no
  * allocation on the hot path), exposed to Spark as a kernel call
  * ([[GeoF.h3Cell]]) — stays inside whole-stage codegen like the other
  * hot-path functions.
  */
object H3 {

  // ------------------------------------------------------------------
  // Published face geometry (H3 faceijk.c): per-face center (lat,lng in
  // radians) and azimuth from the face center to its Class II i-axis
  // (which points at an icosahedron vertex). The other two axes sit at
  // exactly -2π/3 and -4π/3 from the first — asserted below.
  // ------------------------------------------------------------------
  private[functions] val FaceLat: Array[Double] = Array(
    0.803582649718989942, 1.307747883455638156, 1.054751253523952054,
    0.600191595538186799, 0.491715428198773866, 0.172745327415618701,
    0.605929321571350690, 0.427370518328979641, -0.079066118549212831,
    -0.230961644455383637, 0.079066118549212831, 0.230961644455383637,
    -0.172745327415618701, -0.605929321571350690, -0.427370518328979641,
    -0.600191595538186799, -0.491715428198773866, -0.803582649718989942,
    -1.307747883455638156, -1.054751253523952054)

  private[functions] val FaceLng: Array[Double] = Array(
    1.248397419617396099, 2.536945009877921159, -1.347517358900396623,
    -0.450603909469755746, 0.401988202911306943, 1.678146885280433686,
    2.953923329812411617, -1.888876200336285401, -0.733429513380867741,
    0.506495587332349035, 2.408163140208925497, -2.635097066257444203,
    -1.463445768309359553, -0.187669323777381622, 1.252716453253507838,
    2.690988744120037492, -2.739604450678486295, -1.893195233972397139,
    -0.604647643711872080, 1.794075294689396615)

  private[functions] val FaceAz0: Array[Double] = Array(
    5.619958268523939882, 5.760339081714187279, 0.780213654393430055,
    0.430469363979999913, 6.130269123335111400, 2.692877706530642877,
    2.982963003477243874, 3.532912002790141181, 3.494305004259568154,
    3.003214169499538391, 5.930472956509811562, 0.138378484090254847,
    0.448714947059150361, 0.158629650112549365, 5.891865957979238535,
    2.711123289609793325, 3.294508837434268316, 3.804819692245439833,
    3.664438879055192436, 2.361378999196363184)

  /** res-0 unit length (adjacent cell-center spacing) in gnomonic-plane
    * units = tan(center→vertex angle)/2 = (3-√5)/2. */
  private[functions] val Res0UGnomonic = 0.38196601125010500003
  /** Class III rotation: asin(√(3/28)). */
  private val Ap7Rot = asin(sqrt(3.0 / 28.0))
  private val Sqrt7 = sqrt(7.0)
  private[functions] val Sin60 = sqrt(3.0) / 2.0
  private[functions] val TwoPi = 2.0 * PI

  val MaxRes = 15
  val NumBaseCells = 122

  // ------------------------------------------------------------------
  // Spherical helpers
  // ------------------------------------------------------------------
  @inline private[functions] def posAngle(a: Double): Double = {
    val t = a % TwoPi
    if (t < 0.0) t + TwoPi else t
  }

  /** Bearing (azimuth) from (lat1,lng1) to (lat2,lng2), radians. */
  private[functions] def geoAzimuth(lat1: Double, lng1: Double,
      lat2: Double, lng2: Double): Double =
    atan2(cos(lat2) * sin(lng2 - lng1),
      cos(lat1) * sin(lat2) - sin(lat1) * cos(lat2) * cos(lng2 - lng1))

  /** Point at `az` bearing and angular distance `d` from (lat,lng). */
  private[functions] def geoAzDistance(lat: Double, lng: Double, az: Double,
      d: Double): (Double, Double) = {
    val sinLat2 = sin(lat) * cos(d) + cos(lat) * sin(d) * cos(az)
    val lat2 = asin(max(-1.0, min(1.0, sinLat2)))
    val lng2 = lng + atan2(sin(az) * sin(d) * cos(lat),
      cos(d) - sin(lat) * sinLat2)
    (lat2, lng2)
  }

  // ------------------------------------------------------------------
  // IJK coordinate algebra (CoordIJK): redundant 3-axis hex coords,
  // normalized = all components ≥ 0 with at least one 0. Digits:
  // CENTER=0 K=1 J=2 JK=3 I=4 IK=5 IJ=6 (digit = 4i+2j+k on unit ijk).
  // ------------------------------------------------------------------
  @inline private[functions] def normI(i: Long, j: Long, k: Long): (Long, Long, Long) = {
    val m = min(i, min(j, k))
    (i - m, j - m, k - m)
  }

  @inline private[functions] def ijkToHex2d(i: Long, j: Long, k: Long): (Double, Double) = {
    val ii = (i - k).toDouble
    val jj = (j - k).toDouble
    (ii - 0.5 * jj, jj * Sin60)
  }

  /** Nearest hex center in IJK coords. NOTE: H3's IJK axial frame has
    * its SHORT diagonal at (+1,+1) (the IJ direction — i and j axes meet
    * at 120°), so textbook cube-rounding (whose short diagonal is
    * (1,-1)) mis-rounds near the diagonal. Exact nearest-center over the
    * 4 corners of the enclosing basis parallelogram instead: the lattice
    * Delaunay triangulation is equilateral with both triangles of each
    * parallelogram spanned by its corners, and the max distance from a
    * triangle-interior point to its nearest vertex (circumradius 0.577)
    * is far under the min distance to any non-corner site (1.155), so 4
    * candidates are exact with a wide FP margin. Ties are measure-zero
    * cell-boundary inputs.
    *
    * Returns the nearest center packed as axial coords:
    * (i << 32) | (j & 0xFFFFFFFF), both offset by +2^30 to stay
    * non-negative (coords at res 15 reach a few million, well inside
    * 31 bits). Callers unpack and normalize. */
  @inline private def hex2dToAxialPacked(x: Double, y: Double): Long = {
    val jf = y / Sin60
    val if_ = x + jf * 0.5
    val i0 = floor(if_).toLong
    val j0 = floor(jf).toLong
    var bi = i0; var bj = j0; var bd = Double.MaxValue
    var c = 0
    while (c < 4) {
      val ci = i0 + (c & 1); val cj = j0 + (c >> 1)
      val cx = ci.toDouble - 0.5 * cj.toDouble
      val cy = cj.toDouble * Sin60
      val d = (cx - x) * (cx - x) + (cy - y) * (cy - y)
      if (d < bd) { bd = d; bi = ci; bj = cj }
      c += 1
    }
    ((bi + 1073741824L) << 32) | (bj + 1073741824L)
  }

  /** Unpack [[hex2dToAxialPacked]]'s axial coordinates. */
  @inline private[functions] def packedA(p: Long): Long = (p >>> 32) - 1073741824L
  @inline private[functions] def packedB(p: Long): Long = (p & 0xFFFFFFFFL) - 1073741824L

  // ------------------------------------------------------------------
  // Digit rotations in index space. CCW cycle: I→IJ→J→JK→K→IK→I.
  // ------------------------------------------------------------------
  private val CcwDigit: Array[Int] = Array(0, 5, 3, 1, 6, 4, 2, 7)
  private val CwDigit: Array[Int] = Array(0, 3, 6, 2, 5, 1, 4, 7)

  @inline def getResolution(h: Long): Int = ((h >>> 52) & 0xF).toInt
  @inline def getBaseCell(h: Long): Int = ((h >>> 45) & 0x7F).toInt
  @inline private def getDigit(h: Long, r: Int): Int =
    ((h >>> ((MaxRes - r) * 3)) & 7L).toInt
  @inline private def setDigit(h: Long, r: Int, d: Int): Long = {
    val sh = (MaxRes - r) * 3
    (h & ~(7L << sh)) | (d.toLong << sh)
  }

  private[functions] def leadingNonZeroDigit(h: Long): Int = {
    val res = getResolution(h)
    var r = 1
    while (r <= res) {
      val d = getDigit(h, r)
      if (d != 0) return d
      r += 1
    }
    0
  }

  private def rotate60(h: Long, tab: Array[Int]): Long = {
    var out = h
    val res = getResolution(h)
    var r = 1
    while (r <= res) {
      out = setDigit(out, r, tab(getDigit(out, r)))
      r += 1
    }
    out
  }

  /** Pentagon ccw rotation: rotates digits ccw while skipping the
    * deleted K subsequence (leading K is rotated through). */
  private[functions] def rotatePent60ccw(h0: Long): Long = {
    var h = h0
    var foundFirst = false
    val res = getResolution(h)
    var r = 1
    while (r <= res) {
      h = setDigit(h, r, CcwDigit(getDigit(h, r)))
      if (!foundFirst && getDigit(h, r) != 0) {
        foundFirst = true
        if (leadingNonZeroDigit(h) == 1) h = rotate60(h, CcwDigit)
      }
      r += 1
    }
    h
  }

  // ------------------------------------------------------------------
  // Forward projection: geo → (face, hex2d at res)
  // ------------------------------------------------------------------
  // Class init below uses plain loops and `new Array` only: Scala's
  // `Array.tabulate`/`ofDim`, ranges and lambdas would load a few hundred
  // library classes on the first H3 call of a JVM.
  private[functions] val FaceX = new Array[Double](20)
  private[functions] val FaceY = new Array[Double](20)
  private[functions] val FaceZ = new Array[Double](20)

  private def loadFaceVectors(): Unit = {
    var f = 0
    while (f < 20) {
      FaceX(f) = cos(FaceLat(f)) * cos(FaceLng(f))
      FaceY(f) = cos(FaceLat(f)) * sin(FaceLng(f))
      FaceZ(f) = sin(FaceLat(f))
      f += 1
    }
  }

  loadFaceVectors()

  @inline private[functions] def nearestFace(latR: Double, lngR: Double): Int = {
    val x = cos(latR) * cos(lngR)
    val y = cos(latR) * sin(lngR)
    val z = sin(latR)
    var best = 0
    var bestDot = -2.0
    var f = 0
    while (f < 20) {
      val d = x * FaceX(f) + y * FaceY(f) + z * FaceZ(f)
      if (d > bestDot) { bestDot = d; best = f }
      f += 1
    }
    best
  }

  /** Gnomonic projection of geo (radians) through `face`'s chart at
    * `res` (aperture-7 scaling, Class III rotation at odd res), then
    * exact 4-corner lattice rounding; result packed as
    * [[hex2dToAxialPacked]]. The one forward projection: the per-row
    * [[latLngToCell]] and the table derivation both call it. */
  @inline private[functions] def projectRound(latR: Double, lngR: Double, res: Int,
      face: Int): Long = {
    val cosLat = cos(latR)
    val dot = max(-1.0, min(1.0,
      cosLat * cos(lngR) * FaceX(face) +
        cosLat * sin(lngR) * FaceY(face) + sin(latR) * FaceZ(face)))
    val rAng = acos(dot)
    var x = 0.0; var y = 0.0
    if (rAng >= 1e-15) {
      val az = geoAzimuth(FaceLat(face), FaceLng(face), latR, lngR)
      var theta = posAngle(FaceAz0(face) - posAngle(az))
      if ((res & 1) == 1) theta = posAngle(theta - Ap7Rot) // Class III
      var rr = tan(rAng) / Res0UGnomonic
      var n = 0
      while (n < res) { rr *= Sqrt7; n += 1 }
      x = rr * cos(theta); y = rr * sin(theta)
    }
    hex2dToAxialPacked(x, y)
  }

  // ------------------------------------------------------------------
  // Base-cell table (the C library's baseCellData / faceIjkBaseCells),
  // filled from its literal in H3Tables
  // ------------------------------------------------------------------
  /** Table entry: base cell number and ccw 60° rotation count for a
    * (face, normalized res-0 ijk) appearance; -1 = unreachable coord. */
  private[functions] val TabBc = new Array[Int](20 * 27)
  private[functions] val TabRot = new Array[Int](20 * 27)
  private[functions] val IsPent = new Array[Boolean](NumBaseCells)
  /** cwOffsetPent: for pentagon bc, faces where the leading-K escape
    * rotates CW instead of CCW. Keyed bc*32+face. */
  private[functions] val PentCwOffset = new Array[Boolean](NumBaseCells * 32)

  @inline private[functions] def tabIdx(f: Int, i: Long, j: Long, k: Long): Int =
    ((f * 3 + i.toInt) * 3 + j.toInt) * 3 + k.toInt

  /** One pass over the (face, i, j, k, bc, rot, pent, cw) rows. */
  private def loadBaseCells(): Unit = {
    java.util.Arrays.fill(TabBc, -1)
    val t = H3Tables.BaseCells
    var n = 0
    while (n < t.length) {
      val f = t(n); val bc = t(n + 4)
      val idx = tabIdx(f, t(n + 1), t(n + 2), t(n + 3))
      TabBc(idx) = bc
      TabRot(idx) = t(n + 5)
      IsPent(bc) = t(n + 6) == 1
      if (t(n + 7) == 1) PentCwOffset(bc * 32 + f) = true
      n += H3Tables.BaseCellCols
    }
  }

  loadBaseCells()

  // ------------------------------------------------------------------
  // Core pipeline: raw chart-local digits, then table-driven finishing
  // ------------------------------------------------------------------
  /** Aperture-7 digit aggregation of the chart-local res-`res` axial
    * coordinate (a, b): the one loop behind [[assembleFromChart]]
    * (per row and in traversal) and the table derivation's raw index.
    * Returns the RAW index — mode, res and digits set, digits in the
    * chart's own grid orientation, no rotation applied — with the
    * base-cell field holding the normalized res-0 ijk as its face-table
    * slot `i·9 + j·3 + k` ([[tabIdx]] without the face). Returns -1
    * when a digit is not a unit vector or the res-0 coordinate falls
    * outside the face's 27-slot table. */
  private[functions] def aggregateDigits(a: Long, b: Long, res: Int): Long = {
    var i = a; var j = b; var k = 0L
    var m = min(i, min(j, k)); i -= m; j -= m; k -= m
    var h = (1L << 59) | (res.toLong << 52) | ((1L << 45) - 1)
    var r = res
    while (r > 0) {
      val ci0 = i; val cj0 = j; val ck0 = k
      // up-aggregate on axial (i-k, j-k), then normalize
      val ai = (i - k).toDouble
      val aj = (j - k).toDouble
      var ui = 0L; var uj = 0L
      if ((r & 1) == 1) { // Class III (ccw)
        ui = floor((3.0 * ai - aj) / 7.0 + 0.5).toLong
        uj = floor((ai + 2.0 * aj) / 7.0 + 0.5).toLong
      } else { // Class II (cw)
        ui = floor((2.0 * ai + aj) / 7.0 + 0.5).toLong
        uj = floor((3.0 * aj - ai) / 7.0 + 0.5).toLong
      }
      var uk = 0L
      m = min(ui, min(uj, uk)); ui -= m; uj -= m; uk -= m
      // down-scale the parent back to the child grid, normalized
      var ci = 0L; var cj = 0L; var ck = 0L
      if ((r & 1) == 1) { ci = 3 * ui + uj; cj = 3 * uj + uk; ck = ui + 3 * uk }
      else { ci = 3 * ui + uk; cj = ui + 3 * uj; ck = uj + 3 * uk }
      m = min(ci, min(cj, ck)); ci -= m; cj -= m; ck -= m
      // unit digit = child − parent-center
      var di = ci0 - ci; var dj = cj0 - cj; var dk = ck0 - ck
      m = min(di, min(dj, dk)); di -= m; dj -= m; dk -= m
      if (((di | dj | dk) & ~1L) != 0L) return -1L
      h = setDigit(h, r, (4 * di + 2 * dj + dk).toInt)
      i = ui; j = uj; k = uk
      r -= 1
    }
    if (i > 2 || j > 2 || k > 2) return -1L
    (h & ~(0x7FL << 45)) | ((i * 9 + j * 3 + k) << 45)
  }

  /** Face-table slot of a raw index ([[aggregateDigits]]). */
  @inline private[functions] def rawSlot(face: Int, raw: Long): Int =
    face * 27 + ((raw >>> 45) & 0x7F).toInt

  /** Apply base-cell number + orientation to a raw index. Parameterized
    * so the pentagon consistency search of the table derivation can
    * trial candidate rotations; runtime calls pass the table values. */
  @inline private[functions] def finishWith(hRaw: Long, bc: Int,
      pent: Boolean, rot: Int, cwEscape: Boolean): Long = {
    var h = (hRaw & ~(0x7FL << 45)) | (bc.toLong << 45)
    if (pent) {
      if (leadingNonZeroDigit(h) == 1) {
        h = if (cwEscape) rotate60(h, CwDigit) else rotate60(h, CcwDigit)
      }
      var n = 0
      while (n < rot) { h = rotatePent60ccw(h); n += 1 }
    } else {
      var n = 0
      while (n < rot) { h = rotate60(h, CcwDigit); n += 1 }
    }
    h
  }

  /** Assemble the canonical cell id of chart-local axial coordinate
    * (a, b) at `res` on `face`: digit aggregation, then the face
    * table's base cell and rotation. -1 when the aggregation fails or
    * lands on a slot the face does not cover. */
  private[functions] def assembleFromChart(face: Int, a: Long, b: Long,
      res: Int): Long = {
    val raw = aggregateDigits(a, b, res)
    if (raw < 0) return -1L
    val idx = rawSlot(face, raw)
    val bc = TabBc(idx)
    if (bc < 0) return -1L
    val rot = TabRot(idx)
    if (rot < 0) return -1L
    finishWith(raw, bc, IsPent(bc), rot, PentCwOffset(bc * 32 + face))
  }

  // ------------------------------------------------------------------
  // Face-neighbor lattice maps — H3's faceNeighbors / _adjustOverage
  // tables (h3lib faceijk.c), filled from their literal in H3Tables.
  // For each face edge, the adjacent face and the EXACT lattice isometry
  // (60°·c ccw rotation + integer axial translation, per res) that
  // carries chart-local coordinates past the edge onto the neighbor's
  // chart. Why an exact integer map exists: the two gnomonic charts
  // agree exactly ON the shared icosahedron edge, both res-r lattices
  // restricted to the edge line are the same 1D lattice (they share
  // the descended vertex/midpoint points and have equal spacing), and
  // both charts are consistently oriented — so the correspondence that
  // is the identity on the edge is an orientation-preserving lattice
  // isometry. Off the edge the two charts' lattice POINTS drift apart
  // geometrically (quadratic gnomonic mismatch), but the map is used
  // as a LABEL correspondence: a coordinate assembled past face F's
  // region is re-anchored to the chart that actually owns that region,
  // where assembly agrees with the forward definition of identity.
  // ------------------------------------------------------------------
  /** Chart-local axial coords of a res-0 lattice point at `res`:
    * the zero-digit alternating aperture-7 descent of [[descendDigits]]
    * in axial form (downAp7 at odd steps, downAp7r at even). */
  private[functions] def descend0Axial(a0: Long, b0: Long, res: Int): (Long, Long) = {
    var a = a0; var b = b0
    var r = 1
    while (r <= res) {
      if ((r & 1) == 1) { val t = 2 * a + b; b = -a + 3 * b; a = t }
      else { val t = 3 * a - b; b = a + 2 * b; a = t }
      r += 1
    }
    (a, b)
  }

  /** Res-0 face vertices (pentagon centers) in axial coords: the
    * normalized ijk (2,0,0), (0,2,0), (0,0,2). Edge e joins vertex e
    * and vertex (e+1)%3. */
  private[functions] val FaceVertAxial: Array[(Long, Long)] =
    Array((2L, 0L), (0L, 2L), (-2L, -2L))

  /** Face-region triangle vertices per res (axial, Long) — the face's
    * own chart covers exactly this triangle; coordinates outside it
    * belong to a neighboring face's chart. */
  private[functions] val TriW: Array[Array[(Long, Long)]] = {
    val w = new Array[Array[(Long, Long)]](MaxRes + 1)
    var r = 0
    while (r <= MaxRes) {
      w(r) = new Array[(Long, Long)](3)
      var v = 0
      while (v < 3) {
        w(r)(v) = descend0Axial(FaceVertAxial(v)._1, FaceVertAxial(v)._2, r)
        v += 1
      }
      r += 1
    }
    w
  }

  /** EdgeFace(f)(e): the face adjacent to `f` across edge `e`. */
  private[functions] val EdgeFace = new Array[Array[Int]](20)
  /** Per (face, edge, res): ccw-60° rotation count and axial
    * translation of the F→neighbor chart map p_G = R^c(p_F) + T. */
  private[functions] val EdgeRot = new Array[Array[Array[Int]]](20)
  private[functions] val EdgeTA = new Array[Array[Array[Long]]](20)
  private[functions] val EdgeTB = new Array[Array[Array[Long]]](20)

  /** Allocates the edge arrays, then one pass over the (face, edge,
    * neighbour, rot, T₀a, T₀b) rows: the rotation is res-invariant, the
    * res-r translation is T₀ descended r aperture-7 steps. */
  private def loadEdges(): Unit = {
    var face = 0
    while (face < 20) {
      EdgeFace(face) = new Array[Int](3)
      EdgeRot(face) = new Array[Array[Int]](3)
      EdgeTA(face) = new Array[Array[Long]](3)
      EdgeTB(face) = new Array[Array[Long]](3)
      var edge = 0
      while (edge < 3) {
        EdgeRot(face)(edge) = new Array[Int](MaxRes + 1)
        EdgeTA(face)(edge) = new Array[Long](MaxRes + 1)
        EdgeTB(face)(edge) = new Array[Long](MaxRes + 1)
        edge += 1
      }
      face += 1
    }
    val t = H3Tables.Edges
    var n = 0
    while (n < t.length) {
      val f = t(n); val e = t(n + 1)
      EdgeFace(f)(e) = t(n + 2)
      var r = 0
      while (r <= MaxRes) {
        val (a, b) = descend0Axial(t(n + 4), t(n + 5), r)
        EdgeRot(f)(e)(r) = t(n + 3)
        EdgeTA(f)(e)(r) = a
        EdgeTB(f)(e)(r) = b
        r += 1
      }
      n += H3Tables.EdgeCols
    }
  }

  loadEdges()

  /** Translate a chart-local res-`res` axial coordinate lying outside
    * `face`'s triangular region onto the chart that owns it (H3's
    * `_adjustOverage`, derived). Crosses the most-violated edge first
    * and iterates (corner zones cross two edges); coordinates already
    * in-region (boundary inclusive) are returned unchanged. Packed
    * return (face << 50 | (a+2^24) << 25 | (b+2^24)) keeps the hot
    * traversal loop allocation-free; res ≤ 15 coords fit 30 bits. */
  private def overageNormalize(face0: Int, a0: Long, b0: Long,
      res: Int): Long = {
    var f = face0; var a = a0; var b = b0
    val w = TriW(res)
    var hop = 0
    var moved = true
    while (hop < 4 && moved) {
      moved = false
      var worst = -1; var worstMag = 0L
      var i = 0
      while (i < 3) {
        val wi = w(i); val wj = w((i + 1) % 3)
        val ea = wj._1 - wi._1; val eb = wj._2 - wi._2
        val cross = ea * (b - wi._2) - (a - wi._1) * eb
        val crossO = ea * (0L - wi._2) - (0L - wi._1) * eb
        // outside edge i iff cross is strictly on the opposite side of
        // the origin's sign; |cross| ∝ distance (equal-length edges)
        val viol = if (crossO > 0) -cross else cross
        if (viol > 0 && viol > worstMag) { worstMag = viol; worst = i }
        i += 1
      }
      if (worst >= 0) {
        val c = EdgeRot(f)(worst)(res)
        var xa = a; var xb = b
        var k = 0
        while (k < c) { val t = xa - xb; xb = xa; xa = t; k += 1 }
        a = xa + EdgeTA(f)(worst)(res)
        b = xb + EdgeTB(f)(worst)(res)
        f = EdgeFace(f)(worst)
        moved = true
      }
      hop += 1
    }
    (f.toLong << 50) | ((a + 16777216L) << 25) | (b + 16777216L)
  }

  @inline private def ownedFace(pk: Long): Int = (pk >>> 50).toInt
  @inline private def ownedA(pk: Long): Long = ((pk >> 25) & 0x1FFFFFFL) - 16777216L
  @inline private def ownedB(pk: Long): Long = (pk & 0x1FFFFFFL) - 16777216L

  /** [[assembleFromChart]] of an [[overageNormalize]] result. */
  @inline private def assembleOwned(pk: Long, res: Int): Long =
    assembleFromChart(ownedFace(pk), ownedA(pk), ownedB(pk), res)

  // ------------------------------------------------------------------
  // Public API
  // ------------------------------------------------------------------
  /** (lat°, lng°, res) → H3 index (64-bit) — the h3lib `_geoToH3`
    * shape, made purely lattice-combinatorial: project through the
    * NEAREST face's gnomonic chart ([[projectRound]]), round to the
    * res-N lattice, and assemble the index in the chart that OWNS the
    * rounded coordinate. Rounding can land up to half a pitch outside
    * the nearest face's triangular region (the boundary sliver); such
    * coordinates are first carried across the shared edge by the
    * derived face-neighbor isometry ([[overageNormalize]]) — where
    * the two charts' lattices have drifted apart by far less than
    * half a pitch, so the label transfer is exact. Identity is then
    * combinatorial: a cell's region is exactly the set of points
    * whose rounding normalizes to its coordinate in its owning chart,
    * so regions are connected and flanking charts cannot disagree
    * about a cell. One chart projection per point, no allocation. */
  def latLngToCell(latDeg: Double, lngDeg: Double, res: Int): Long = {
    if (res < 0 || res > MaxRes) badCell(latDeg, lngDeg, res)
    val latR = toRadians(latDeg); val lngR = toRadians(lngDeg)
    val face = nearestFace(latR, lngR)
    val packed = projectRound(latR, lngR, res, face)
    val h = assembleOwned(
      overageNormalize(face, packedA(packed), packedB(packed), res), res)
    if (h < 0) badCell(latDeg, lngDeg, res)
    h
  }

  /** [[latLngToCell]]'s failure, out of line: a plain throw, not
    * `require`, so the first call of a JVM need not load `Predef`. */
  private def badCell(latDeg: Double, lngDeg: Double, res: Int): Nothing =
    throw new IllegalArgumentException(
      if (res < 0 || res > MaxRes) s"resolution $res out of [0,15]"
      else s"unresolvable coordinate ($latDeg, $lngDeg) res $res")

  /** (lat°, lng°, res) → canonical lowercase 15-hex-digit cell id. */
  def latLngToCellString(latDeg: Double, lngDeg: Double, res: Int): String =
    java.lang.Long.toHexString(latLngToCell(latDeg, lngDeg, res))

  def isPentagonCell(h: Long): Boolean = IsPent(getBaseCell(h))

  /** Pentagon cell centers (icosahedron vertices) as (base cell, lat°,
    * lng°): the centers of the 12 res-0 pentagon cells, exposed for
    * tests and for callers that need to locate/avoid pentagons. */
  lazy val pentagonCenters: IndexedSeq[(Int, Double, Double)] =
    (0 until NumBaseCells).filter(IsPent).map { bc =>
      val (lat, lng) = cellToLatLng((1L << 59) | (bc.toLong << 45) | ((1L << 45) - 1))
      (bc, lat, lng)
    }

  // ------------------------------------------------------------------
  // Inverse: cell → center (cellToLatLng)
  // ------------------------------------------------------------------
  /** Inverse unprojection at any res: (face, hex2d, res) → geo radians.
    * Exact inverse of [[projectRound]]'s projection: undo the
    * aperture-7 scaling (÷√7 per res step) and the Class III grid
    * rotation (+[[Ap7Rot]] at odd res), then invert the gnomonic
    * projection along the azimuth from the face center. */
  private[functions] def hex2dToGeo(face: Int, x: Double, y: Double,
      res: Int): (Double, Double) = {
    var rr = sqrt(x * x + y * y)
    if (rr < 1e-15) return (FaceLat(face), FaceLng(face))
    var theta = atan2(y, x)
    if ((res & 1) == 1) theta = posAngle(theta + Ap7Rot) // undo Class III
    var n = 0
    while (n < res) { rr /= Sqrt7; n += 1 }
    val dist = atan(rr * Res0UGnomonic)
    val az = posAngle(FaceAz0(face) - theta)
    geoAzDistance(FaceLat(face), FaceLng(face), az, dist)
  }

  /** Appearances of each base cell across face charts:
    * (face, i, j, k, ccwRot60) per table slot — the inverse tries each
    * chart and keeps the one the forward path proves right. Lazy: only
    * the inverse and the traversal read it, not [[latLngToCell]]. */
  private lazy val BcApps: Array[Array[(Int, Long, Long, Long, Int)]] = {
    val by = Array.fill(NumBaseCells)(
      List.empty[(Int, Long, Long, Long, Int)])
    for (f <- 19 to 0 by -1; i <- 2 to 0 by -1; j <- 2 to 0 by -1;
         k <- 2 to 0 by -1) {
      val idx = tabIdx(f, i, j, k)
      if (TabBc(idx) >= 0)
        by(TabBc(idx)) ::= ((f, i.toLong, j.toLong, k.toLong, TabRot(idx)))
    }
    // canonical-orientation (rot 0) appearances first: the home chart
    // resolves the bulk of cells on the first try
    by.map(_.sortBy { case (f, _, _, _, rot) =>
      (if (rot == 0) 0 else 1, f)
    }.toArray)
  }

  /** Descend a res-0 ijk down `res` aperture-7 steps, applying the raw
    * (chart-local) digits of `h` — the exact inverse of the digit
    * up-aggregation loop in [[aggregateDigits]]: at each step the parent
    * is down-scaled into the child grid (Class III ccw at odd res,
    * Class II cw at even) and the unit digit vector added. */
  private def descendDigits(i0: Long, j0: Long, k0: Long, h: Long,
      res: Int): (Long, Long, Long) = {
    var i = i0; var j = j0; var k = k0
    var r = 1
    while (r <= res) {
      var ci = 0L; var cj = 0L; var ck = 0L
      if ((r & 1) == 1) { ci = 3 * i + j; cj = 3 * j + k; ck = i + 3 * k }
      else { ci = 3 * i + k; cj = i + 3 * j; ck = j + 3 * k }
      val d = getDigit(h, r)
      ci += (d >> 2) & 1; cj += (d >> 1) & 1; ck += d & 1
      val m = min(ci, min(cj, ck))
      i = ci - m; j = cj - m; k = ck - m
      r += 1
    }
    (i, j, k)
  }

  /** Exact inverse of `rot` ccw pentagon rotations: walk the orbit of
    * `h` under [[rotatePent60ccw]] (order ≤ 6 — 5 on generic digit
    * strings, smaller on rotation-symmetric ones) and pick the element
    * that `rot` forward applications map back onto `h`. */
  private def unrotatePent(h: Long, rot: Int): Long = {
    if (rot == 0) return h
    var orbit = List(h)
    var x = h
    var ord = 0
    var n = 1
    while (ord == 0 && n <= 6) {
      x = rotatePent60ccw(x)
      if (x == h) ord = n else orbit ::= x
      n += 1
    }
    require(ord > 0, s"pentagon rotation orbit of $h does not close")
    // orbit(i) = element after (ord-1-i) forward applications; the
    // pre-image under `rot` applications is the element reached by
    // steps = (ord - rot mod ord) forward applications
    val steps = (ord - rot % ord) % ord
    if (steps == 0) h else orbit(ord - 1 - steps)
  }

  /** H3 cell → exact center (lat°, lng°) — the inverse of
    * [[latLngToCell]], the API the reference's enrichment slot lacks
    * but any geo pipeline needs to materialize cell geometry
    * (cell→point joins, centroid exports, reverse geocoding).
    *
    * Method (round 12, fully combinatorial — the exact inverse of the
    * overage-normalized forward): for each appearance (face chart) of
    * the cell's base cell, exactly invert the forward finishing —
    * un-rotate the canonical digits (pentagons via the rotation-orbit
    * inverse and the two validity-gated leading-K escape pre-images),
    * descend the chart's res-0 ijk through the raw digits — then
    * OVERAGE-NORMALIZE the descended coordinate onto the chart that
    * owns it ([[overageNormalize]]; a res-N descendant can lie
    * physically outside its home chart's face region) and accept the
    * candidate iff re-assembling the normalized coordinate in its
    * owning chart yields `h` bit-for-bit. That acceptance is exact —
    * no geometric tolerance: assembly is injective per chart, so the
    * normalized coordinate IS the cell's canonical coordinate, and
    * the returned center is its unprojection through the owning
    * chart, which the forward maps back to `h` by construction.
    * Throws on malformed input (bad mode/base-cell/digit fields,
    * pentagon deleted-axis subsequences): such indexes have no
    * appearance that verifies. */
  def cellToLatLng(h: Long): (Double, Double) = {
    val (_, _, _, _, latD, lngD) = resolveChart(h)
    (latD, lngD)
  }

  /** The canonical chart behind [[cellToLatLng]], exposed for the grid
    * traversal: (face, i, j, k, lat°, lng°) where (face, ijk) is the
    * OVERAGE-NORMALIZED chart-local res-N lattice coordinate (in-region
    * on `face`, re-assembling to `h`), and (lat°, lng°) its exact
    * unprojected center. */
  private def resolveChart(h: Long): (Int, Long, Long, Long, Double, Double) = {
    val res = getResolution(h)
    val bc = getBaseCell(h)
    require((h >>> 59) == 1L, s"not a cell-mode H3 index: $h")
    require(bc < NumBaseCells, s"invalid base cell $bc")
    var r = 1
    while (r <= res) {
      require(getDigit(h, r) != 7, s"invalid digit 7 at res $r in $h")
      r += 1
    }
    while (r <= MaxRes) {
      require(getDigit(h, r) == 7, s"unused digit not 7 at res $r in $h")
      r += 1
    }
    val pent = IsPent(bc)
    val apps = BcApps(bc)
    var a = 0
    while (a < apps.length) {
      val (f, i0, j0, k0, rot) = apps(a)
      if (rot >= 0) {
        // exact un-rotation back to this chart's raw orientation
        val u =
          if (pent) unrotatePent(h, rot)
          else {
            var x = h; var n = 0
            while (n < rot) { x = rotate60(x, CwDigit); n += 1 }
            x
          }
        // leading-K escape pre-images (pentagons only): the forward
        // escape fired iff the raw led with K, so each pre-image is
        // gated on the leading digit it implies
        var c = 0
        val nCands = if (pent) 2 else 1
        while (c < nCands) {
          var raw = 0L
          var valid = false
          if (c == 0) { raw = u; valid = !pent || leadingNonZeroDigit(u) != 1 }
          else {
            val t = if (PentCwOffset(bc * 32 + f)) CcwDigit else CwDigit
            raw = rotate60(u, t)
            valid = leadingNonZeroDigit(raw) == 1
          }
          if (valid) {
            val (ri, rj, rk) = descendDigits(i0, j0, k0, raw, res)
            // carry the descended coordinate onto its owning chart and
            // accept iff it re-assembles to h — combinatorially exact
            // (assembly is injective per chart)
            val pk = overageNormalize(f, ri - rk, rj - rk, res)
            val nf = ownedFace(pk); val na = ownedA(pk); val nb = ownedB(pk)
            if (assembleFromChart(nf, na, nb, res) == h) {
              val (latR, lngR) = hex2dToGeo(nf,
                na.toDouble - 0.5 * nb, nb * Sin60, res)
              val m = min(na, min(nb, 0L))
              return (nf, na - m, nb - m, -m,
                toDegrees(latR), toDegrees(lngR))
            }
          }
          c += 1
        }
      }
      a += 1
    }
    throw new IllegalArgumentException(
      f"invalid or non-invertible H3 index 0x$h%x (base cell $bc)")
  }

  /** Hex-string form of [[cellToLatLng]] (the engine's cell columns are
    * canonical lowercase hex strings). */
  def cellToLatLng(hex: String): (Double, Double) =
    cellToLatLng(java.lang.Long.parseUnsignedLong(hex, 16))

  /** Scalar forms for codegen call sites (each a full inversion — the
    * inverse is a cold-path API, not a per-row hot loop over TBs). */
  def cellCenterLat(hex: String): Double = cellToLatLng(hex)._1
  def cellCenterLng(hex: String): Double = cellToLatLng(hex)._2

  // ------------------------------------------------------------------
  // Grid traversal: ring-1 neighbors and k-disks (gridDisk). One exact
  // path: integer unit steps in the cell's owning chart, carried across
  // face edges by the derived face-neighbor isometries and assembled in
  // the chart that owns each step — exact by the spec-pinned cross-chart
  // consistency laws (H3Spec's hexagon and pentagon-orbit laws). No
  // geometric tolerance and no second path.
  // ------------------------------------------------------------------
  /** The cell's ring-1 neighbours, sorted: 6, or 5 at a pentagon. The
    * canonical integer ring — anchor `h` at its coordinate in its
    * OWNING chart ([[resolveChart]]), take the six unit lattice steps,
    * carry each stepped coordinate onto its owning chart across the
    * face-neighbor isometries ([[overageNormalize]]) and assemble it
    * there. Forward identity ([[latLngToCell]]) is defined the same
    * way, so each step is exact adjacency with no geometric tolerance:
    * the cross-chart consistency laws pin it, and `H3Spec` checks the
    * ring size and (at res 0–3) symmetry for every cell at res 0–4. A
    * pentagon's six steps dedupe to its five neighbours. A ring of any
    * other size throws `IllegalStateException` naming the cell instead
    * of returning it partial. */
  def gridRing1(h: Long): Array[Long] = {
    val res = getResolution(h)
    val (f0, ci, cj, ck, _, _) = resolveChart(h) // validates h; throws on bad input
    val a0 = ci - ck; val b0 = cj - ck
    val expected = if (isPentagon(h)) 5 else 6
    val out = new Array[Long](6)
    var n = 0
    var d = 1
    while (d <= 6) {
      // unit digit d in axial form: (di - dk, dj - dk)
      val sa = a0 + ((d >> 2) & 1) - (d & 1)
      val sb = b0 + ((d >> 1) & 1) - (d & 1)
      val c = assembleOwned(overageNormalize(f0, sa, sb, res), res)
      if (c >= 0 && c != h) {
        var seen = false
        var s = 0
        while (s < n) { if (out(s) == c) seen = true; s += 1 }
        if (!seen) { out(n) = c; n += 1 }
      }
      d += 1
    }
    if (n != expected)
      throw new IllegalStateException(
        f"gridRing1: 0x$h%x resolved $n of its $expected neighbours")
    java.util.Arrays.sort(out, 0, n)
    java.util.Arrays.copyOf(out, n)
  }

  /** Is `h` itself a pentagon cell (5 neighbors)? Distinct from
    * [[isPentagonCell]], which is base-cell MEMBERSHIP: a nonzero-digit
    * cell inside a pentagon base cell is an ordinary hexagon. */
  def isPentagon(h: Long): Boolean =
    IsPent(getBaseCell(h)) && leadingNonZeroDigit(h) == 0

  /** All cells within grid distance `k` of `h`, INCLUDING `h` itself
    * (H3 `gridDisk` semantics), sorted. BFS over [[gridRing1]]: each
    * step is an exact adjacency, so BFS depth is true grid distance
    * and the disk is exact near pentagons too (where ring sizes
    * shrink and the hexagon count formula 1+3k(k+1) over-counts). */
  def gridDisk(h: Long, k: Int): Array[Long] = {
    require(k >= 0, s"gridDisk k must be >= 0, got $k")
    var seen = Set(h)
    var frontier = List(h)
    var step = 0
    while (step < k && frontier.nonEmpty) {
      var next = List.empty[Long]
      frontier.foreach { c =>
        gridRing1(c).foreach { nb =>
          if (!seen(nb)) { seen += nb; next ::= nb }
        }
      }
      frontier = next
      step += 1
    }
    val arr = seen.toArray
    java.util.Arrays.sort(arr)
    arr
  }

  /** Hex-string forms (the engine's cell columns are canonical
    * lowercase hex strings). */
  def gridDiskHex(hex: String, k: Int): Array[String] =
    gridDisk(java.lang.Long.parseUnsignedLong(hex, 16), k)
      .map(c => f"$c%x")

  // ------------------------------------------------------------------
  // Hierarchy: parent / children / compact / uncompact (h3lib
  // `cellToParent` / `cellToChildren` / `compactCells` /
  // `uncompactCells`). Pure 64-bit digit arithmetic — no geometry: the
  // H3 index IS the hierarchy (parent = digit truncation), so these are
  // exact by construction. The pentagon rule is h3lib's: a cell with a
  // pentagon base cell may not carry a LEADING K digit (digit 1 before
  // any other nonzero digit) — the K subsequence is the deleted axis —
  // so a pentagon CELL (center digit path) has 6 children, not 7.
  // ------------------------------------------------------------------

  /** Field validation shared by the hierarchy API (h3lib
    * `isValidCell`): cell mode, known base cell, no digit 7 at or below
    * the cell's res, all-7 padding below, and no pentagon leading-K
    * subsequence. Returns the resolution. */
  private def requireValid(h: Long): Int = {
    val res = getResolution(h)
    val bc = getBaseCell(h)
    require((h >>> 59) == 1L, s"not a cell-mode H3 index: ${h.toHexString}")
    require(bc < NumBaseCells, s"invalid base cell $bc")
    var r = 1
    while (r <= res) {
      require(getDigit(h, r) != 7,
        s"invalid digit 7 at res $r in ${h.toHexString}")
      r += 1
    }
    while (r <= MaxRes) {
      require(getDigit(h, r) == 7,
        s"unused digit not 7 at res $r in ${h.toHexString}")
      r += 1
    }
    require(!IsPent(bc) || leadingNonZeroDigit(h) != 1,
      s"pentagon deleted-K subsequence in ${h.toHexString}")
    res
  }

  @inline private def setRes(h: Long, res: Int): Long =
    (h & ~(0xFL << 52)) | (res.toLong << 52)

  /** h3lib `cellToParent`: the res-`parentRes` ancestor — truncate the
    * digit path (digits parentRes+1..res become the 7 padding). */
  def cellToParent(h: Long, parentRes: Int): Long = {
    val res = requireValid(h)
    require(parentRes >= 0 && parentRes <= res,
      s"parent res $parentRes out of [0, $res]")
    var out = setRes(h, parentRes)
    var r = parentRes + 1
    while (r <= res) { out = setDigit(out, r, 7); r += 1 }
    out
  }

  /** h3lib `cellToCenterChild`: the res-`childRes` descendant on the
    * all-zero digit path (always valid — a leading K cannot appear). */
  def cellToCenterChild(h: Long, childRes: Int): Long = {
    val res = requireValid(h)
    require(childRes >= res && childRes <= MaxRes,
      s"child res $childRes out of [$res, $MaxRes]")
    var out = setRes(h, childRes)
    var r = res + 1
    while (r <= childRes) { out = setDigit(out, r, 0); r += 1 }
    out
  }

  @inline private def pow7(k: Int): Long = {
    var n = 1L; var i = 0
    while (i < k) { n *= 7L; i += 1 }
    n
  }

  /** h3lib `cellToChildrenSize`: 7^k for hexagons; pentagons lose the
    * whole leading-K subtree at every level: 1 + 5·(7^k − 1)/6. */
  def childrenSize(h: Long, childRes: Int): Long = {
    val res = requireValid(h)
    require(childRes >= res && childRes <= MaxRes,
      s"child res $childRes out of [$res, $MaxRes]")
    val k = childRes - res
    if (isPentagon(h)) 1L + 5L * (pow7(k) - 1L) / 6L else pow7(k)
  }

  /** h3lib `cellToChildren`: every res-`childRes` descendant, in
    * ascending 64-bit index order (digit positions are descending bit
    * positions, so depth-first ascending-digit emission IS numeric
    * order). Pentagon-rooted paths skip digit 1 until a nonzero digit
    * anchors the orientation. */
  def cellToChildren(h: Long, childRes: Int): Array[Long] = {
    val res = requireValid(h)
    require(childRes >= res && childRes <= MaxRes,
      s"child res $childRes out of [$res, $MaxRes]")
    val size = childrenSize(h, childRes)
    // 7^12 > Int.MaxValue: an unchecked toInt would wrap to a negative
    // (or wrong-size) array instead of a diagnosable error
    require(size <= Int.MaxValue,
      s"cellToChildren: $size children (res $res -> $childRes) exceed " +
        "array addressing; materialize via uncompact/explode instead")
    val out = new Array[Long](size.toInt)
    var n = 0
    def rec(cur: Long, r: Int, pentPath: Boolean): Unit = {
      if (r > childRes) { out(n) = cur; n += 1 }
      else {
        var d = 0
        while (d < 7) {
          if (!(pentPath && d == 1))
            rec(setDigit(cur, r, d), r + 1, pentPath && d == 0)
          d += 1
        }
      }
    }
    rec(setRes(h, childRes), res + 1, isPentagon(h))
    require(n == out.length, s"children count mismatch for ${h.toHexString}")
    out
  }

  /** h3lib `compactCells`: replace every complete sibling set (all 7
    * children — 6 for a pentagon parent) by its parent, repeated to
    * res 0. Input must be distinct cells of ONE resolution (h3lib's
    * contract); output is the minimal equivalent cover, sorted.
    * Pure/local form — the distributed form over a cell column is
    * [[graft.ops.H3Compact]], which calls this per co-grouped ancestor
    * (every merge decision is ancestor-local, so the distributed result
    * is identical by construction). */
  def compactCells(cells: Array[Long]): Array[Long] = {
    if (cells.isEmpty) return Array.emptyLongArray
    val res = requireValid(cells(0))
    var i = 1
    while (i < cells.length) {
      require(requireValid(cells(i)) == res,
        s"mixed resolutions: ${cells(i).toHexString} vs res $res")
      i += 1
    }
    var cur: Array[Long] = cells.distinct
    require(cur.length == cells.length, "duplicate cells in compact input")
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var r = res
    while (r > 0 && cur.nonEmpty) {
      val byParent = cur.groupBy(c => cellToParent(c, r - 1))
      val promoted = scala.collection.mutable.ArrayBuffer.empty[Long]
      byParent.foreach { case (p, kids) =>
        val expected = if (isPentagon(p)) 6 else 7
        if (kids.length == expected) promoted += p else out ++= kids
      }
      cur = promoted.toArray
      r -= 1
    }
    out ++= cur
    out.toArray.sorted
  }

  /** h3lib `uncompactCells`: expand a (mixed-res) cover to uniform
    * res-`res` cells, sorted. The input must be an actual cover — no
    * cell an ancestor of another — or the output carries duplicates. */
  def uncompactCells(cells: Array[Long], res: Int): Array[Long] =
    cells.flatMap(cellToChildren(_, res)).sorted

  // ------------------------------------------------------------------
  // Cell boundary (h3lib `cellToBoundary`): the cell's polygon
  // vertices. A hexagon cell IS the Voronoi cell of its center in the
  // owning chart's gnomonic lattice, so each corner is the planar
  // circumcenter of the three mutually-adjacent cell centers — for an
  // equilateral lattice triangle that circumcenter is its CENTROID,
  // i.e. the substrate lattice point c + (u_i + u_{i+1})/3.
  //
  // Corners live EXACTLY on the 3×-scaled ("substrate") lattice —
  // 3·center + u_i + u_{i+1} is integer — and the derived face-edge
  // isometries act on the substrate as the same 60°·c rotation with a
  // 3× translation. So every corner's owning chart and its exact
  // lattice coordinate there are computed by [[overageNormalizeSub]]:
  // hop the strictly-violated face edge (most-violated first, exact
  // integer sidedness tests — h3lib's per-vertex substrate
  // `_adjustOverage`, re-derived), then canonicalize on-boundary points
  // to the minimal face index of their edge orbit (a corner ON an
  // icosahedron edge belongs to two charts that agree exactly there; a
  // corner AT an icosahedron vertex to five). Every generating cell
  // reaches the identical (face, a, b) integers, so shared corners are
  // bit-canonical by construction.
  //
  // Documented divergence vs h3lib: the PLAIN form inserts no
  // edge-crossing DISTORTION vertices (h3lib emits up to 10 vertices
  // for face-straddling hexagons; this surface always emits the 6 true
  // corners). The full-parity form with exact distortion vertices is
  // [[cellToBoundaryFull]]. Pentagon corners adopt their flanking
  // hexagons' corners.
  // ------------------------------------------------------------------

  /** CCW unit neighbor directions in axial (a,b) coords — see
    * [[ijkToHex2d]]'s x = a − b/2 convention: ±i=(1,0), −k=(1,1),
    * +j=(0,1), at 60° steps. */
  private val BoundaryDirs: Array[(Int, Int)] =
    Array((1, 0), (1, 1), (0, 1), (-1, 0), (-1, -1), (0, -1))

  /** h3lib `cellToBoundary`: the cell's polygon vertices as
    * (latDeg, lngDeg), in ring order, without repeating the first
    * vertex — 6 for hexagons, 5 for pentagon cells. Each hexagon corner
    * is the substrate lattice point 3·center + u_v + u_{v+1}, carried
    * to its owning chart by [[overageNormalizeSub]] and unprojected
    * there, so a corner shared by several cells is bit-identical from
    * each of them. */
  def cellToBoundary(h: Long): Array[(Double, Double)] = {
    requireValid(h)
    if (isPentagon(h)) return pentagonBoundary(h)
    val res = getResolution(h)
    val (face, i, j, k, _, _) = resolveChart(h)
    val a3 = 3L * (i - k)
    val b3 = 3L * (j - k)
    val out = new Array[(Double, Double)](6)
    var v = 0
    while (v < 6) {
      val (a1, b1) = BoundaryDirs(v)
      val (a2, b2) = BoundaryDirs((v + 1) % 6)
      val (fo, ca3, cb3) =
        overageNormalizeSub(face, a3 + a1 + a2, b3 + b1 + b2, res)
      val (latR, lngR) =
        hex2dToGeo(fo, (ca3 - 0.5 * cb3) / 3.0, cb3 * Sin60 / 3.0, res)
      out(v) = (toDegrees(latR), toDegrees(lngR))
      v += 1
    }
    out
  }

  /** Owning chart of a SUBSTRATE (3×-scaled) axial coordinate — the
    * per-corner analog of [[overageNormalize]] (h3lib's per-vertex
    * substrate `_adjustOverage`). Phase 1 hops the strictly-violated
    * face edge (most-violated first) through the derived isometries
    * (rotation unchanged, translation ×3 — the edge map is linear);
    * phase 2 canonicalizes boundary points: a coordinate lying ON a
    * face edge (exact integer sidedness 0) belongs to every chart in
    * its edge orbit (two across an edge, five around an icosahedron
    * vertex — the pentagon-quotient orbit), all of which agree exactly
    * there, and the MINIMAL face index is taken so every generating
    * cell canonicalizes the shared corner identically. Orbit-walk
    * consistency (two paths reaching one face must carry the same
    * coordinate) is a loud require — it would only fire if the derived
    * isometries violated the vertex orbit law. */
  private def overageNormalizeSub(face0: Int, a0: Long, b0: Long,
      res: Int): (Int, Long, Long) = {
    val w = TriW(res)
    // violation of edge e for substrate point (a,b): > 0 strictly
    // outside, 0 exactly on the edge line, < 0 strictly inside
    @inline def viol(a: Long, b: Long, e: Int): Long = {
      val wi = w(e); val wj = w((e + 1) % 3)
      val ea = wj._1 - wi._1; val eb = wj._2 - wi._2
      val cross = ea * (b - 3 * wi._2) - (a - 3 * wi._1) * eb
      val crossO = ea * (0L - 3 * wi._2) - (0L - 3 * wi._1) * eb
      if (crossO > 0) -cross else cross
    }
    @inline def step(f: Int, a: Long, b: Long, e: Int): (Int, Long, Long) = {
      val c = EdgeRot(f)(e)(res)
      var xa = a; var xb = b
      var k = 0
      while (k < c) { val t = xa - xb; xb = xa; xa = t; k += 1 }
      (EdgeFace(f)(e), xa + 3 * EdgeTA(f)(e)(res), xb + 3 * EdgeTB(f)(e)(res))
    }
    var f = face0; var a = a0; var b = b0
    var hop = 0
    var moved = true
    while (moved && hop < 8) {
      moved = false
      var worst = -1; var worstMag = 0L
      var e = 0
      while (e < 3) {
        val vl = viol(a, b, e)
        if (vl > 0 && vl > worstMag) { worstMag = vl; worst = e }
        e += 1
      }
      if (worst >= 0) {
        val (nf, na, nb) = step(f, a, b, worst)
        f = nf; a = na; b = nb
        moved = true
      }
      hop += 1
    }
    require((0 until 3).forall(e => viol(a, b, e) <= 0),
      s"substrate overage did not converge: face $face0 ($a0,$b0) res $res")
    if ((0 until 3).exists(e => viol(a, b, e) == 0)) {
      val seen = scala.collection.mutable.Map.empty[Int, (Long, Long)]
      def walk(f0: Int, wa: Long, wb: Long): Unit = seen.get(f0) match {
        case Some(prev) =>
          require(prev == ((wa, wb)),
            s"vertex orbit inconsistent at face $f0: $prev vs ($wa,$wb)")
        case None =>
          seen(f0) = (wa, wb)
          var e = 0
          while (e < 3) {
            if (viol(wa, wb, e) == 0) {
              val (nf, na, nb) = step(f0, wa, wb, e)
              walk(nf, na, nb)
            }
            e += 1
          }
      }
      walk(f, a, b)
      val fMin = seen.keys.min
      val (ma, mb) = seen(fMin)
      (fMin, ma, mb)
    } else (f, a, b)
  }

  /** h3lib `cellToBoundary` WITH edge-crossing DISTORTION vertices
    * (round 13, completing the boundary-parity advice): h3lib emits an
    * extra vertex wherever a cell edge crosses an icosahedron face
    * edge (up to 10 vertices for a face-straddling hexagon), because
    * the gnomonic lattice edge bends there on the sphere. Faces are
    * the Voronoi regions of the 20 face centers, so a face edge IS the
    * perpendicular-bisector great circle of two face centers, and the
    * distortion vertex is the EXACT intersection of the cell edge's
    * great circle (normal p×q) with that bisector plane (normal
    * c_a−c_b) — computed in closed form once a subdivision walk along
    * the edge has located which face pair each crossing separates
    * (the subdivision only identifies the pair and the ordering; the
    * emitted point is exact regardless of the walk's depth). Cells
    * whose corners all sit on one face return [[cellToBoundary]]
    * verbatim. Laws (on-both-circles, between-corners, count =
    * sampled face changes, straddle-free identity) are exhaustively
    * spec-pinned at res 0–2 in `H3Spec`. */
  def cellToBoundaryFull(h: Long): Array[(Double, Double)] =
    cellToBoundaryFullMarked(h)._1

  /** [[cellToBoundaryFull]] plus a parallel flags array: true = an
    * inserted distortion vertex, false = a true corner. Test hook. */
  private[functions] def cellToBoundaryFullMarked(
      h: Long): (Array[(Double, Double)], Array[Boolean]) = {
    val corners = cellToBoundary(h)
    val n = corners.length
    def unit(p: (Double, Double)): Array[Double] = {
      val la = toRadians(p._1); val lo = toRadians(p._2)
      Array(cos(la) * cos(lo), cos(la) * sin(lo), sin(la))
    }
    def faceOf(v: Array[Double]): Int = {
      var best = 0; var bd = -2.0; var f = 0
      while (f < 20) {
        val d = v(0) * FaceX(f) + v(1) * FaceY(f) + v(2) * FaceZ(f)
        if (d > bd) { bd = d; best = f }
        f += 1
      }
      best
    }
    def cross(a: Array[Double], b: Array[Double]): Array[Double] =
      Array(a(1) * b(2) - a(2) * b(1), a(2) * b(0) - a(0) * b(2),
        a(0) * b(1) - a(1) * b(0))
    def mid(a: Array[Double], b: Array[Double]): Array[Double] = {
      val m = Array(a(0) + b(0), a(1) + b(1), a(2) + b(2))
      val l = sqrt(m(0) * m(0) + m(1) * m(1) + m(2) * m(2))
      Array(m(0) / l, m(1) / l, m(2) / l)
    }
    val us = corners.map(unit)
    val fs = us.map(faceOf)
    val outP = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    val outM = scala.collection.mutable.ArrayBuffer.empty[Boolean]
    def slerp(a: Array[Double], b: Array[Double], t: Double)
        : Array[Double] = {
      val om = acos(max(-1.0, min(1.0,
        a(0) * b(0) + a(1) * b(1) + a(2) * b(2))))
      if (om < 1e-12) a
      else {
        val sa = sin((1 - t) * om) / sin(om)
        val sb = sin(t * om) / sin(om)
        val m = Array(sa * a(0) + sb * b(0), sa * a(1) + sb * b(1),
          sa * a(2) + sb * b(2))
        val l = sqrt(m(0) * m(0) + m(1) * m(1) + m(2) * m(2))
        Array(m(0) / l, m(1) / l, m(2) / l)
      }
    }
    var v = 0
    while (v < n) {
      val p = us(v); val q = us((v + 1) % n)
      outP += corners(v); outM += false
      // Crossing detection runs UNCONDITIONALLY: an edge can enter a
      // neighboring face region and return (both corners on one face,
      // two crossings — routine for res-0 edges clipping a face
      // corner), so an endpoint-face gate would miss pairs. 256 uniform
      // samples isolate every change interval (face incursions along a
      // cell edge are never narrower than a fraction of the edge), then
      // each interval bisects 48 deep before the closed-form point.
      val gc = cross(p, q) // full-edge great-circle normal
      val gcl = sqrt(gc(0) * gc(0) + gc(1) * gc(1) + gc(2) * gc(2))
      // exact crossing between the face-fa / face-fb Voronoi regions
      // on this edge's great circle, oriented into the (a, b) sub-arc.
      // None = ALONG-EDGE degenerate: the cell edge runs (numerically)
      // inside the face-boundary great circle itself — routine for
      // res-0 cells whose edges lie on icosahedron edges. Face identity
      // flickers at float noise along such an arc, but the arc is a
      // single great circle on the boundary — straight in BOTH charts —
      // so no distortion bend exists and h3lib's substrate walk (which
      // canonicalizes boundary vertices to one face) emits nothing.
      def exact(fa: Int, fb: Int, a: Array[Double],
          b: Array[Double]): Option[(Double, Double)] = {
        val n2 = Array(FaceX(fa) - FaceX(fb), FaceY(fa) - FaceY(fb),
          FaceZ(fa) - FaceZ(fb))
        val n2l = sqrt(n2(0) * n2(0) + n2(1) * n2(1) + n2(2) * n2(2))
        val d = cross(gc, n2)
        val l = sqrt(d(0) * d(0) + d(1) * d(1) + d(2) * d(2))
        if (l < 1e-3 * gcl * n2l) None // tangent/along-edge: no bend
        else {
          val s = d(0) * (a(0) + b(0)) + d(1) * (a(1) + b(1)) +
            d(2) * (a(2) + b(2))
          val sg = if (s >= 0) 1.0 else -1.0
          val x = Array(sg * d(0) / l, sg * d(1) / l, sg * d(2) / l)
          Some((toDegrees(asin(max(-1.0, min(1.0, x(2))))),
            toDegrees(atan2(x(1), x(0)))))
        }
      }
      // A crossing can coincide with a corner (res-0 corners sit ON
      // icosahedron edges) or with the previous crossing — emit
      // neither (h3lib never duplicates vertices). Chordal 1e-9
      // (cos of a 1e-9 angle is 1.0 in double).
      var lastEmit: Array[Double] = null
      def emit(pt: (Double, Double)): Unit = {
        val x = unit(pt)
        def near(y: Array[Double]) = {
          val dx = x(0) - y(0); val dy = x(1) - y(1); val dz = x(2) - y(2)
          dx * dx + dy * dy + dz * dz < 1e-18
        }
        if (!near(p) && !near(q) &&
            (lastEmit == null || !near(lastEmit))) {
          outP += pt; outM += true; lastEmit = x
        }
      }
      def bisect(a0: Array[Double], fa0: Int, b0: Array[Double],
          fb0: Int, depth: Int): Unit = {
        var a = a0; var fa = fa0; var b = b0; var fb = fb0
        var d = depth
        while (d > 0) {
          val m = mid(a, b); val fm = faceOf(m)
          if (fm == fa) { a = m }
          else if (fm == fb) { b = m }
          else { // a third face inside the interval: split
            bisect(a, fa, m, fm, d - 1)
            bisect(m, fm, b, fb, d - 1)
            return
          }
          d -= 1
        }
        exact(fa, fb, a, b).foreach(emit)
      }
      val Samples = 256
      var prev = p; var fPrev = fs(v)
      var s = 1
      while (s <= Samples) {
        val cur = if (s == Samples) q else slerp(p, q, s.toDouble / Samples)
        val fCur = if (s == Samples) fs((v + 1) % n) else faceOf(cur)
        if (fCur != fPrev) bisect(prev, fPrev, cur, fCur, 48)
        prev = cur; fPrev = fCur
        s += 1
      }
      v += 1
    }
    (outP.toArray, outM.toArray)
  }

  /** Pentagon boundary. Every pentagon corner is also a corner of its
    * two flanking ring-1 HEXAGONS, whose corners are chart-canonical
    * ([[cellToBoundary]]), so each corner adopts the flank corner
    * nearest the spherical centroid of its (center, nᵢ, nᵢ₊₁) triple
    * over the azimuth-ordered ring-1 neighbor centers. That centroid is
    * second-order close to the true corner and the flank's other
    * corners are ≥ ~0.58 pitch away, so the match is unambiguous; both
    * flanks compute the shared corner in the same owning chart
    * (bit-identical, spec-pinned), so the choice of flank does not
    * matter. */
  private def pentagonBoundary(h: Long): Array[(Double, Double)] = {
    val (cLat, cLng) = cellToLatLng(h)
    val cLatR = toRadians(cLat); val cLngR = toRadians(cLng)
    val nbrs = gridRing1(h).map { n =>
      val (la, lo) = cellToLatLng(n)
      (geoAzimuth(cLatR, cLngR, toRadians(la), toRadians(lo)), la, lo, n)
    }.sortBy(_._1)
    val cv = Array(cos(cLatR) * cos(cLngR), cos(cLatR) * sin(cLngR),
      sin(cLatR))
    // chart-canonical corner sets of the five flanking hexagons (a
    // pentagon's ring-1 is always 5 hexagons: pentagon base cells are
    // never adjacent)
    val flank = nbrs.map { case (_, _, _, n) =>
      if (isPentagon(n)) null else cellToBoundary(n)
    }
    def unitOf(latDeg: Double, lngDeg: Double): Array[Double] = {
      val p = toRadians(latDeg); val q = toRadians(lngDeg)
      Array(cos(p) * cos(q), cos(p) * sin(q), sin(p))
    }
    Array.tabulate(5) { v =>
      val (_, la1, lo1, _) = nbrs(v)
      val (_, la2, lo2, _) = nbrs((v + 1) % 5)
      val (p1, q1) = (toRadians(la1), toRadians(lo1))
      val (p2, q2) = (toRadians(la2), toRadians(lo2))
      val x = cv(0) + cos(p1) * cos(q1) + cos(p2) * cos(q2)
      val y = cv(1) + cos(p1) * sin(q1) + cos(p2) * sin(q2)
      val z = cv(2) + sin(p1) + sin(p2)
      val n = sqrt(x * x + y * y + z * z)
      val approx = (toDegrees(asin(z / n)), toDegrees(atan2(y, x)))
      val av = unitOf(approx._1, approx._2)
      // adopt the nearest RESOLVED corner of either flank; threshold
      // self-scaled by the flank's own circumradius (nearest corner of
      // the right flank is second-order close; any other corner is
      // ≥ ~0.58 pitch away)
      var best: (Double, Double) = null
      var bestD = Double.MaxValue
      Seq(v, (v + 1) % 5).foreach { fi =>
        val corners = flank(fi)
        if (corners != null) {
          val (fla, flo) = (nbrs(fi)._2, nbrs(fi)._3)
          val fcv = unitOf(fla, flo)
          var w = 0
          while (w < corners.length) {
            val u = unitOf(corners(w)._1, corners(w)._2)
            val dx = u(0) - av(0); val dy = u(1) - av(1)
            val dz = u(2) - av(2)
            val d2 = dx * dx + dy * dy + dz * dz
            val cx = u(0) - fcv(0); val cy = u(1) - fcv(1)
            val cz = u(2) - fcv(2)
            val r2 = cx * cx + cy * cy + cz * cz // flank circumradius²
            if (d2 < 0.09 * r2 && d2 < bestD) { bestD = d2; best = corners(w) }
            w += 1
          }
        }
      }
      // never taken: the centroid sits second-order close to a flank
      // corner; loud rather than a silent centroid corner
      require(best != null,
        f"pentagonBoundary: no flank corner matches vertex $v of 0x$h%x")
      best
    }
  }

  /** Owning chart face of a cell (test hook: the exactness domain of
    * [[cellToBoundary]] is a ring whose cells share one chart). */
  private[functions] def chartFace(h: Long): Int = resolveChart(h)._1

  /** Owning face of a point (test hook for the distortion-vertex
    * laws: faces are the Voronoi regions of the face centers). */
  private[functions] def faceOfPoint(latDeg: Double, lngDeg: Double): Int =
    nearestFace(toRadians(latDeg), toRadians(lngDeg))

  /** Face-center unit vector (test hook for the bisector laws). */
  private[functions] def faceCenter(f: Int): Array[Double] =
    Array(FaceX(f), FaceY(f), FaceZ(f))

  /** Test hook: whether a cell's base cell is in [[PentProximal]] —
    * the gridDistance flat path's exclusion set. */
  private[functions] def isPentProximalCell(h: Long): Boolean =
    PentProximal(getBaseCell(h))

  // ------------------------------------------------------------------
  // Grid distance (h3lib `gridDistance`): length of the shortest
  // grid path between two same-res cells. Fast path: express both
  // cells' overage-normalized lattice coordinates in ONE chart —
  // directly when they share their owning face, else through the
  // derived face-neighbor isometry (exact by the spec-pinned
  // cross-chart consistency law) — and read the axial hex distance
  // off the flat lattice. The flat formula is exact whenever a
  // shortest path stays inside the shared double-chart and sees no
  // pentagon (the 12 curvature defects); the guard is therefore on
  // PROXIMITY, not just endpoint identity — any pair touching a
  // pentagon base cell OR one of its neighboring base cells (where a
  // shortest path could still graze the defect) takes the exact BFS
  // arm; likewise non-adjacent owning faces. The BFS throws past its
  // cap exactly like h3lib errors on far/distorted pairs.
  // `GridDistSpec` pins flat == BFS over random pairs incl.
  // cross-face ones.
  // ------------------------------------------------------------------

  /** Hex distance on the axial lattice whose unit moves are ±(1,0),
    * ±(0,1), ±(1,1): same-sign offsets ride the (1,1) diagonal. */
  @inline private def axialDist(da: Long, db: Long): Long =
    if ((da >= 0) == (db >= 0)) max(abs(da), abs(db))
    else abs(da) + abs(db)

  /** BFS distance cap for the exact fallback: beyond this the pair is
    * rejected (h3lib's gridDistance likewise fails on far pairs). */
  private val GridDistBfsCap = 64

  /** Base cells that are pentagons OR grid-adjacent to one — the flat
    * fast path's exclusion set. Endpoint base cells being hexagons is
    * NOT enough: a shortest path between cells in pentagon-ADJACENT
    * base cells can still route through the pentagon's curvature
    * defect near an icosahedron vertex, where the 6-regular axial
    * distance formula undercounts (h3lib errors on such pairs rather
    * than answer). One full base cell of separation keeps every flat
    * corridor a base-cell inradius away from the nearest defect
    * (`GridDistSpec` pins flat == BFS over the remaining domain,
    * including pairs in this second ring around each pentagon). */
  private lazy val PentProximal: Array[Boolean] = {
    val out = new Array[Boolean](NumBaseCells)
    for (b <- 0 until NumBaseCells if IsPent(b)) {
      out(b) = true
      val res0 = (1L << 59) | (b.toLong << 45) | ((1L << 45) - 1)
      for (nb <- gridRing1(res0)) out(getBaseCell(nb)) = true
    }
    out
  }

  def gridDistance(ha: Long, hb: Long): Int = {
    val res = requireValid(ha)
    require(requireValid(hb) == res,
      s"resolution mismatch: ${ha.toHexString} vs ${hb.toHexString}")
    if (ha == hb) return 0
    val pentTouched =
      PentProximal(getBaseCell(ha)) || PentProximal(getBaseCell(hb))
    if (!pentTouched) {
      val (fa, ia, ja, ka, _, _) = resolveChart(ha)
      val (fb, ib, jb, kb, _, _) = resolveChart(hb)
      var aA = ia - ka; var aB = ja - ka
      val bA = ib - kb; val bB = jb - kb
      if (fa == fb) return axialDist(aA - bA, aB - bB).toInt
      var e = 0
      while (e < 3) {
        if (EdgeFace(fa)(e) == fb) {
          // p_G = R(60°·c)·p_F + T_r — same map the consistency law pins
          val c = EdgeRot(fa)(e)(res)
          var n = 0
          while (n < c) { val t = aA - aB; aB = aA; aA = t; n += 1 }
          return axialDist(
            aA + EdgeTA(fa)(e)(res) - bA,
            aB + EdgeTB(fa)(e)(res) - bB).toInt
        }
        e += 1
      }
    }
    // exact fallback: ring-by-ring BFS (each ring is exact traversal)
    var k = 1
    while (k <= GridDistBfsCap) {
      if (gridDisk(ha, k).contains(hb)) return k
      k += 1
    }
    throw new IllegalArgumentException(
      f"gridDistance: 0x$ha%x and 0x$hb%x are farther than " +
        f"$GridDistBfsCap or pentagon-distorted")
  }

  def gridDistanceHex(a: String, b: String): Int =
    gridDistance(java.lang.Long.parseUnsignedLong(a, 16),
      java.lang.Long.parseUnsignedLong(b, 16))

  /** h3lib `gridPathCells`, canonicalized (round 14): a minimal grid
    * path from `ha` to `hb` inclusive — length gridDistance+1. h3lib
    * explicitly disclaims WHICH minimal path its lerp-based
    * implementation returns ("output may change across library
    * versions"), so this surface defines the path deterministically
    * instead of chasing an unspecified choice: at every step the next
    * cell is the SMALLEST id among current neighbors that reduce the
    * remaining distance (min-id greedy — each step's candidate set is
    * non-empty on any connected domain, so the greedy is total and
    * yields exactly gridDistance+1 cells). Engine-independently
    * restatable — the DuckDB oracle recomputes the same path from its
    * probe-witnessed adjacency relation alone — and cross-checked
    * against a brute-force enumeration in `H3Spec`. Inherits
    * [[gridDistance]]'s domain (throws past the BFS cap, exactly where
    * h3lib errors). Cost O(dist · 6 · gridDistance) — a gated-query /
    * small-k primitive, not a scan-side kernel. */
  def gridPathCells(ha: Long, hb: Long): Array[Long] = {
    var remaining = gridDistance(ha, hb)
    val out = new Array[Long](remaining + 1)
    out(0) = ha
    var cur = ha
    var i = 1
    while (remaining > 0) {
      // candidates: neighbors one step closer to hb; ids are positive
      // (mode bit 59), so Long min is unsigned-consistent
      var best = Long.MaxValue
      val ring = gridRing1(cur)
      var r = 0
      while (r < ring.length) {
        val c = ring(r)
        // a neighbor FURTHER from hb than the BFS cap throws inside its
        // own gridDistance even when (ha, hb) itself is in-domain (pair
        // at exactly the cap, neighbor at cap+1) — a throwing neighbor
        // is simply a non-candidate, matching the spec's brute-force
        // candidate-set construction (ADVICE r14)
        if (c < best) {
          val closer =
            try gridDistance(c, hb) == remaining - 1
            catch { case _: IllegalArgumentException => false }
          if (closer) best = c
        }
        r += 1
      }
      require(best != Long.MaxValue,
        f"gridPathCells: no descending neighbor at 0x$cur%x (ring " +
          "incomplete?)")
      out(i) = best
      cur = best
      i += 1
      remaining -= 1
    }
    out
  }

  def gridPathCellsHex(a: String, b: String): Array[String] =
    gridPathCells(java.lang.Long.parseUnsignedLong(a, 16),
      java.lang.Long.parseUnsignedLong(b, 16))
      .map(h => java.lang.Long.toHexString(h))

  /** WKT POLYGON form of [[cellToBoundary]] (lng-lat vertex order,
    * ring closed) — the export format of the engine's other geometry
    * functions, parseable by [[GeoF.parseRings]]/polyfill. */
  def cellBoundaryWkt(hex: String): String = {
    val vs = cellToBoundary(java.lang.Long.parseUnsignedLong(hex, 16))
    val body = (vs :+ vs.head)
      .map { case (lat, lng) => s"$lng $lat" }.mkString(", ")
    s"POLYGON(($body))"
  }

  /** WKT form of [[cellToBoundaryFull]] (corners + distortion
    * vertices) — full h3lib vertex parity for face-straddling cells. */
  def cellBoundaryFullWkt(hex: String): String = {
    val vs = cellToBoundaryFull(java.lang.Long.parseUnsignedLong(hex, 16))
    val body = (vs :+ vs.head)
      .map { case (lat, lng) => s"$lng $lat" }.mkString(", ")
    s"POLYGON(($body))"
  }

  // Hex-string forms (the engine's cell columns are canonical
  // lowercase 15-hex strings).
  def cellToParentHex(hex: String, parentRes: Int): String =
    f"${cellToParent(java.lang.Long.parseUnsignedLong(hex, 16), parentRes)}%x"

  def cellToChildrenHex(hex: String, childRes: Int): Array[String] =
    cellToChildren(java.lang.Long.parseUnsignedLong(hex, 16), childRes)
      .map(c => f"$c%x")

  def compactCellsHex(cells: Array[String]): Array[String] =
    compactCells(cells.map(java.lang.Long.parseUnsignedLong(_, 16)))
      .map(c => f"$c%x")

  def uncompactCellsHex(cells: Array[String], res: Int): Array[String] =
    uncompactCells(
      cells.map(java.lang.Long.parseUnsignedLong(_, 16)), res)
      .map(c => f"$c%x")
}
