package graft.functions

import java.lang.Math._

import H3._

/** The reference derivation of [[H3Tables]]: H3's base-cell table
  * (`baseCellData` / `faceIjkBaseCells` in the C library) and its
  * face-neighbour table (`faceNeighbors` / `_adjustOverage`),
  * reconstructed from the published face geometry alone. The engine
  * reads the literal; [[H3TablesSpec]] re-runs this derivation and
  * checks the literal against it row for row, and [[H3TableGen]]
  * writes the literal from it.
  *
  * Base cells: enumerate every res-0 cell appearance on every face,
  * cluster appearances of the same cell, number cells by DESCENDING
  * LATITUDE of their centers (H3's published base-cell numbering), and
  * recover each hexagon appearance's 60°-rotation offset from the
  * measured bearing mismatch between face grids. The derivation
  * self-checks: exactly 122 cells, exactly 12 pentagons, pentagons at
  * the published base-cell numbers, rotation residuals well inside the
  * 30° rounding band.
  *
  * Pentagons: the five faces around each pentagon meet at 72°, not 60°,
  * so a pentagon appearance's digit rotation is not geometric
  * quantization; it is recovered by a consistency search (every
  * straddling point pair across a face boundary must index identically,
  * and no pentagon index may carry a leading K digit).
  *
  * Face neighbours: for each face edge, the adjacent face and the exact
  * lattice isometry (60°·c ccw rotation + integer axial translation,
  * per res) carrying chart-local coordinates past the edge onto the
  * neighbour's chart. The two gnomonic charts agree exactly on the
  * shared icosahedron edge, and both res-r lattices restricted to that
  * line are the same 1D lattice, so the correspondence that is the
  * identity on the edge is an orientation-preserving lattice isometry.
  *
  * The tables below are this object's own (they shadow `H3`'s runtime
  * arrays of the same names); the geometry and digit helpers it calls
  * are `H3`'s, so the derivation and the engine share one projection.
  */
object H3Derivation {

  /** Published pentagon base-cell numbers: the numbering rule must
    * reproduce them exactly. */
  val PentagonCells: Set[Int] =
    Set(4, 14, 24, 38, 49, 58, 63, 72, 83, 97, 107, 117)

  /** Base cell and ccw 60° rotation count per (face, normalized res-0
    * ijk) slot ([[H3.tabIdx]]); -1 = unreachable coordinate. */
  val TabBc: Array[Int] = Array.fill(20 * 27)(-1)
  val TabRot: Array[Int] = Array.fill(20 * 27)(0)
  val IsPent: Array[Boolean] = new Array[Boolean](NumBaseCells)
  /** Pentagon faces whose leading-K escape rotates CW; keyed bc*32+face. */
  val PentCwOffset: Array[Boolean] = new Array[Boolean](NumBaseCells * 32)
  /** Pentagon cell centers (icosahedron vertices), radians. */
  val PentLat: Array[Double] = new Array[Double](NumBaseCells)
  val PentLng: Array[Double] = new Array[Double](NumBaseCells)

  /** EdgeFace(f)(e): the face adjacent to `f` across edge `e`. */
  val EdgeFace: Array[Array[Int]] = Array.ofDim[Int](20, 3)
  /** Per (face, edge, res): ccw-60° rotation count and axial
    * translation of the F→neighbour chart map p_G = R^c(p_F) + T. */
  val EdgeRot: Array[Array[Array[Int]]] = Array.ofDim[Int](20, 3, MaxRes + 1)
  val EdgeTA: Array[Array[Array[Long]]] = Array.ofDim[Long](20, 3, MaxRes + 1)
  val EdgeTB: Array[Array[Array[Long]]] = Array.ofDim[Long](20, 3, MaxRes + 1)

  deriveTables()
  resolvePentagons()
  deriveFaceNeighbors()

  /** Base-cell rows in [[H3Tables.BaseCells]] order and layout:
    * (face, i, j, k, bc, rot, pent, cw), booleans as 0/1. */
  def baseCellRows: IndexedSeq[Seq[Int]] =
    for {
      f <- 0 until 20; i <- 0 to 2; j <- 0 to 2; k <- 0 to 2
      idx = tabIdx(f, i, j, k) if TabBc(idx) >= 0
    } yield {
      val bc = TabBc(idx)
      Seq(f, i, j, k, bc, TabRot(idx), if (IsPent(bc)) 1 else 0,
        if (PentCwOffset(bc * 32 + f)) 1 else 0)
    }

  /** Face-edge rows in [[H3Tables.Edges]] order and layout:
    * (face, edge, neighbour face, rot, T₀a, T₀b) — the res-0 map. */
  def edgeRows: IndexedSeq[Seq[Int]] =
    for (f <- 0 until 20; e <- 0 until 3) yield
      Seq(f, e, EdgeFace(f)(e), EdgeRot(f)(e)(0),
        EdgeTA(f)(e)(0).toInt, EdgeTB(f)(e)(0).toInt)

  // ------------------------------------------------------------------
  // Base cells
  // ------------------------------------------------------------------
  private def deriveTables(): Unit = {
    // 19 normalized res-0 coords per face (min component 0, max ≤ 2)
    val coords = for {
      i <- 0 to 2; j <- 0 to 2; k <- 0 to 2
      if min(i, min(j, k)) == 0
    } yield (i.toLong, j.toLong, k.toLong)
    require(coords.size == 19)

    case class App(f: Int, i: Long, j: Long, k: Long) {
      lazy val center: (Double, Double) = {
        val (x, y) = ijkToHex2d(i, j, k)
        hex2dToGeo(f, x, y, 0)
      }
      lazy val center3: (Double, Double, Double) = {
        val (la, lo) = center
        (cos(la) * cos(lo), cos(la) * sin(lo), sin(la))
      }
    }
    val apps: IndexedSeq[App] = for {
      f <- 0 until 20; (i, j, k) <- coords
    } yield App(f, i, j, k)
    val appIdx: Map[(Int, Long, Long, Long), Int] =
      apps.zipWithIndex.map { case (a, n) => ((a.f, a.i, a.j, a.k), n) }.toMap

    // union-find over appearances
    val parent = Array.tabulate(apps.size)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    def union(a: Int, b: Int): Unit = { parent(find(a)) = find(b) }

    // link 1: identical centers (true shared-boundary appearances)
    for (a <- apps.indices; b <- (a + 1) until apps.size) {
      val (ax, ay, az) = apps(a).center3
      val (bx, by, bz) = apps(b).center3
      val d2 = (ax - bx) * (ax - bx) + (ay - by) * (ay - by) +
        (az - bz) * (az - bz)
      if (d2 < 1e-18) union(a, b)
    }
    // link 2: re-resolution (spillover appearances → canonical cell).
    // An appearance is EXACT (its center is the true cell center) iff it
    // re-resolves to an appearance with the same center; spillover
    // appearances land a gnomonic-distortion displacement away.
    val exactApp = new Array[Boolean](apps.size)
    for (n <- apps.indices) {
      val a = apps(n)
      val (la, lo) = a.center
      val f2 = nearestFace(la, lo)
      val p = projectRound(la, lo, 0, f2)
      val (ri, rj, rk) = normI(packedA(p), packedB(p), 0L)
      val m = appIdx.getOrElse((f2, ri, rj, rk),
        sys.error(s"re-resolved coord off-table: $a -> ($f2,$ri,$rj,$rk)"))
      union(n, m)
      val (ax, ay, az) = a.center3
      val (bx, by, bz) = apps(m).center3
      val d2 = (ax - bx) * (ax - bx) + (ay - by) * (ay - by) +
        (az - bz) * (az - bz)
      exactApp(n) = d2 < 1e-18
    }

    val clusters: Map[Int, IndexedSeq[Int]] =
      apps.indices.groupBy(find).map { case (r, m) => (r, m.toIndexedSeq) }
    require(clusters.size == NumBaseCells,
      s"derived ${clusters.size} base cells, want $NumBaseCells")

    // representative = an exact-center appearance
    val reps: Map[Int, App] = clusters.map { case (root, members) =>
      val self = members.filter(exactApp)
      require(self.nonEmpty, s"cluster $root has no exact-center member")
      (root, apps(self.minBy(n => (apps(n).f, apps(n).i, apps(n).j, apps(n).k))))
    }

    // pentagon ⟺ center is an icosahedron vertex ⟺ ≥3 equidistant faces
    def isVertex(a: App): Boolean = {
      val (x, y, z) = a.center3
      val dots: IndexedSeq[Double] =
        (0 until 20).map(f => x * FaceX(f) + y * FaceY(f) + z * FaceZ(f))
      val mx = dots.max
      dots.count(d => d > mx - 1e-12) >= 3
    }

    // number by descending latitude of the representative center
    val ordered = clusters.keys.toIndexedSeq.sortBy(r => -reps(r).center._1)
    val lats = ordered.map(r => reps(r).center._1)
    lats.sliding(2).foreach { case Seq(a, b) =>
      require(a - b > 1e-9, s"ambiguous latitude ordering: $a vs $b")
    }
    val cellNum: Map[Int, Int] = ordered.zipWithIndex.toMap

    val pentNums = ordered.zipWithIndex.collect {
      case (r, n) if isVertex(reps(r)) => n
    }.toSet
    require(pentNums == PentagonCells,
      s"pentagon numbering mismatch: derived $pentNums")
    for (n <- pentNums) IsPent(n) = true
    for ((root, num) <- cellNum if pentNums.contains(num)) {
      val (la, lo) = reps(root).center
      PentLat(num) = la
      PentLng(num) = lo
    }

    // home appearance per cell: hexagons = lowest-face exact appearance;
    // pentagons = lowest face where the vertex is that face's i-vertex
    // (coord (2,0,0) — the direction FaceAz0 points at).
    val homeOf: Map[Int, App] = clusters.map { case (root, members) =>
      val rep3 = reps(root).center3
      def exact(n: Int): Boolean = {
        val (x, y, z) = apps(n).center3
        val d2 = (x - rep3._1) * (x - rep3._1) + (y - rep3._2) * (y - rep3._2) +
          (z - rep3._3) * (z - rep3._3)
        d2 < 1e-18
      }
      val ex = members.filter(exact).map(apps(_))
      val home =
        if (pentNums.contains(cellNum(root))) {
          val iv = ex.filter(a => a.i == 2 && a.j == 0 && a.k == 0)
          require(iv.nonEmpty, s"pentagon ${cellNum(root)} has no i-vertex face")
          iv.minBy(_.f)
        } else ex.minBy(_.f)
      (root, home)
    }

    // bearing of the face grid's +i axis at a given geo point, measured
    // through face `f`'s chart (finite difference in the gnomonic plane)
    def iAxisBearing(f: Int, latR: Double, lngR: Double): Double = {
      val az = geoAzimuth(FaceLat(f), FaceLng(f), latR, lngR)
      val dot = max(-1.0, min(1.0,
        cos(latR) * cos(lngR) * FaceX(f) + cos(latR) * sin(lngR) * FaceY(f) +
          sin(latR) * FaceZ(f)))
      val theta = posAngle(FaceAz0(f) - posAngle(az))
      val r = tan(acos(dot)) / Res0UGnomonic
      val (x, y) = (r * cos(theta), r * sin(theta))
      val eps = 1e-7
      val (la2, lo2) = hex2dToGeo(f, x + eps, y, 0)
      geoAzimuth(latR, lngR, la2, lo2)
    }

    // fill the table
    for ((root, members) <- clusters) {
      val num = cellNum(root)
      val home = homeOf(root)
      for (n <- members) {
        val a = apps(n)
        val idx = tabIdx(a.f, a.i, a.j, a.k)
        TabBc(idx) = num
        if (a.f == home.f && a.i == home.i && a.j == home.j && a.k == home.k) {
          TabRot(idx) = 0
        } else if (!pentNums.contains(num)) {
          // rotation via bearing mismatch at THIS appearance's center
          // (spillovers measure at their own distorted center through
          // their own chart — the frames' relative twist is what counts)
          val (aLat, aLng) = a.center
          val bH = iAxisBearing(home.f, aLat, aLng)
          val bF = iAxisBearing(a.f, aLat, aLng)
          val diff = posAngle(bF - bH)
          val nRot = round(diff / (PI / 3.0)).toInt % 6
          val resid = abs(diff - nRot * (PI / 3.0))
          // charts twist slightly off the exact 60° multiple (gnomonic
          // distortion at off-boundary measurement points) but stay far
          // from the 30° rounding ambiguity; boundary-consistency tests
          // in H3Spec validate every entry end-to-end
          require(resid < 0.45 || abs(resid - TwoPi) < 0.45,
            f"ambiguous grid rotation at $a: $resid%.2e")
          // NEGATED: bearings are azimuths (clockwise), the digit
          // rotation cycle is counter-clockwise — the raw bearing
          // quantization yields the INVERSE rotation. The digit-level
          // cross-chart consistency law (for edge isometry rotation c:
          // rot_F − rot_G ≡ +c (mod 6), pinned exhaustively by H3Spec's
          // cross-chart consistency laws) picks the sign: with the raw
          // nRot every c∈{1,5} edge pair violates it by 2c, with the
          // negation all pairs satisfy it. c=3 edges (280 of 420 slot
          // pairs) are sign-blind.
          TabRot(idx) = (6 - nRot) % 6
        } else {
          // pentagons: the 5 faces fan at 72°, not 60° — resolved by the
          // consistency search below, -1 until then
          TabRot(idx) = -1
        }
      }
    }
  }

  /** geo (radians) → (nearest face, raw index at `res` in that face's
    * chart), for the pentagon search, which reads the res-0 slot off
    * the raw index's base-cell field. Throws where the aggregation
    * fails: the search never samples such a point. */
  private def rawIndex(latR: Double, lngR: Double, res: Int): (Int, Long) = {
    val face = nearestFace(latR, lngR)
    val p = projectRound(latR, lngR, res, face)
    val raw = aggregateDigits(packedA(p), packedB(p), res)
    if (raw < 0)
      throw new IllegalStateException(
        s"raw index of ($latR, $lngR) res $res on face $face: non-unit " +
          "digit or res-0 coordinate off the face table")
    (face, raw)
  }

  // ------------------------------------------------------------------
  // Pentagon rotations. A point pair straddling the boundary between
  // two faces' nearest-face regions (1e-9 rad apart, interior to the
  // same res-4 subcell with probability 1) MUST index identically
  // through both charts. The home face has rotation 0 by definition of
  // canonical orientation; each other face of the fan gets the unique
  // (rot, cwEscape) consistent with the shared straddle pairs, and a
  // final pass re-validates every pair and checks no finished index
  // carries a leading K digit (the deleted subsequence).
  // ------------------------------------------------------------------
  private def resolvePentagons(): Unit = {
    // Class III only: at even (Class II) resolutions the face boundary
    // rays from a pentagon vertex are hex-lattice mirror lines (30° +
    // 60°k from the chart axes) and run exactly along subcell edges, so
    // a straddling pair legitimately sits in two different subcells and
    // can never agree. The Class III grids are rotated ±19.1° off the
    // face axes, leaving boundary pairs generically interior to one
    // subcell — which is what the consistency constraint needs. Two
    // resolutions: deeper digits discriminate rotations that shallow
    // near-vertex (leading-zero-heavy) pairs cannot.
    val SampleResList = Array(5, 7)
    val NAz = 2048
    val Radii = Array(0.03, 0.045, 0.06, 0.08, 0.095, 0.115) // rad

    for (bc <- 0 until NumBaseCells if IsPent(bc)) {
      val vLat = PentLat(bc); val vLng = PentLng(bc)

      // sample: (face, rawH); az-major order per radius
      case class S(face: Int, raw: Long)
      def sampleAt(az: Double, rho: Double, res: Int): Option[S] = {
        val (la, lo) = geoAzDistance(vLat, vLng, az, rho)
        val (f, raw) = rawIndex(la, lo, res)
        if (TabBc(rawSlot(f, raw)) == bc) Some(S(f, raw)) else None
      }

      // ring samples, computed once per (res, radius) and reused by the
      // pair builder below and the global validation pass at the end
      val rings: IndexedSeq[(Int, Double, Array[S])] = for {
        res <- SampleResList.toIndexedSeq; rho <- Radii.toIndexedSeq
      } yield (res, rho, Array.tabulate(NAz) { n =>
        sampleAt(n * TwoPi / NAz, rho, res).orNull
      })

      // straddle pairs across face-region boundaries: bisect between
      // consecutive ring samples that landed on different faces
      val pairs = scala.collection.mutable.ArrayBuffer.empty[(S, S)]
      for ((res, rho, ring) <- rings; n <- 0 until NAz) {
        val a = ring(n); val b = ring((n + 1) % NAz)
        if (a != null && b != null && a.face != b.face) {
          var lo = n * TwoPi / NAz; var hi = (n + 1) * TwoPi / NAz
          var sLo = a; var sHi = b
          var it = 0
          while (hi - lo > 1e-9 && it < 64) {
            val mid = (lo + hi) / 2
            sampleAt(mid, rho, res) match {
              case Some(m) if m.face == sLo.face => lo = mid; sLo = m
              case Some(m) => hi = mid; sHi = m
              case None => it = 64 // fell out of the cell; drop pair
            }
            it += 1
          }
          if (hi - lo <= 1e-9 && sLo.face != sHi.face) pairs += ((sLo, sHi))
        }
      }

      // member appearances seen in samples
      val faces = pairs.flatMap(p => Seq(p._1.face, p._2.face)).distinct
      val homeFace = {
        // home = the appearance deriveTables marked rot 0 (i-vertex face)
        val fs = for {
          f <- 0 until 20; i <- 0 to 2; j <- 0 to 2; k <- 0 to 2
          if TabBc(tabIdx(f, i, j, k)) == bc && TabRot(tabIdx(f, i, j, k)) == 0
        } yield f
        require(fs.nonEmpty, s"pentagon $bc: no home appearance")
        fs.head
      }
      require(faces.contains(homeFace),
        s"pentagon $bc: home face $homeFace not reached by sampling")

      // candidate state per face: (rot, cwEscape)
      val assign = scala.collection.mutable.Map.empty[Int, (Int, Boolean)]
      def finishedOf(s: S, st: (Int, Boolean)): Long =
        finishWith(s.raw, bc, pent = true, st._1, st._2)

      def consistent(p: (S, S), stA: (Int, Boolean), stB: (Int, Boolean)): Boolean =
        finishedOf(p._1, stA) == finishedOf(p._2, stB)

      // Joint CSP over the whole fan. A single boundary curve's digit
      // patterns can be rotation-degenerate (the sampled sliver maps
      // into a narrow digit sector where escape+rot compositions
      // coincide), so greedy edge-at-a-time propagation can stall on an
      // ambiguous edge. Enumerating assignments over all faces at once
      // uses BOTH edges of every face simultaneously, which pins the
      // fan uniquely. Home rot is 0 by definition; each other face has
      // rot ∈ 0..4 and every face an independent cwEscape flag.
      // cw flags are only constrained by leading-K samples; a genuinely
      // unconstrained flag survives with both values — survivors must
      // then agree on all rots, and the ccw default (false) is taken.
      val otherFaces = faces.filterNot(_ == homeFace).toIndexedSeq
      val edges: Map[(Int, Int), IndexedSeq[(S, S)]] = pairs.toIndexedSeq
        .groupBy(p => (min(p._1.face, p._2.face), max(p._1.face, p._2.face)))
      // rot ∈ 0..4: the pentagon digit rotation has order 5 (five
      // applications step through the five non-deleted sectors and
      // return — rot 5 ≡ rot 0), so 5 would only manufacture a
      // spurious ambiguous duplicate of 0
      val combos: IndexedSeq[(Int, Boolean)] = for {
        rot <- 0 to 4; cw <- IndexedSeq(false, true)
      } yield (rot, cw)
      val homeCombos: IndexedSeq[(Int, Boolean)] =
        IndexedSeq((0, false), (0, true))
      def combosOf(f: Int): IndexedSeq[(Int, Boolean)] =
        if (f == homeFace) homeCombos else combos
      // per-edge compatibility tables
      val compat: Map[(Int, Int), Array[Array[Boolean]]] = edges.map {
        case ((fA, fB), ps) =>
          val ca = combosOf(fA); val cb = combosOf(fB)
          val t = Array.ofDim[Boolean](ca.size, cb.size)
          for (ia <- ca.indices; ib <- cb.indices) {
            t(ia)(ib) = ps.forall { p =>
              val (a, b) = if (p._1.face == fA) (p._1, p._2) else (p._2, p._1)
              consistent((a, b), ca(ia), cb(ib))
            }
          }
          ((fA, fB), t)
      }
      // enumerate joint assignments (≤ 2 × 10^4 = 20k)
      val faceIdx: Map[Int, Int] =
        (homeFace +: otherFaces).zipWithIndex.toMap
      val survivors = scala.collection.mutable.ArrayBuffer.empty[Array[Int]]
      val cur = new Array[Int]((otherFaces.size + 1))
      def rec(d: Int): Unit = {
        if (d > otherFaces.size) { survivors += cur.clone(); return }
        val f = if (d == 0) homeFace else otherFaces(d - 1)
        val cs = combosOf(f)
        var ci = 0
        while (ci < cs.size) {
          cur(d) = ci
          // check edges to already-assigned faces
          val ok = edges.keys.forall { case (fA, fB) =>
            val dA = faceIdx(fA); val dB = faceIdx(fB)
            if (dA > d || dB > d) true
            else {
              val t = compat((fA, fB))
              t(cur(dA))(cur(dB))
            }
          }
          if (ok) rec(d + 1)
          ci += 1
        }
      }
      rec(0)
      require(survivors.nonEmpty, s"pentagon $bc: fan CSP has no solution")
      // rots must be pinned uniquely; cw flags may be unconstrained
      for (d <- 0 to otherFaces.size) {
        val f = if (d == 0) homeFace else otherFaces(d - 1)
        val rots = survivors.map(a => combosOf(f)(a(d))._1).distinct
        require(rots.size == 1,
          s"pentagon $bc: rotation ambiguous on face $f: $rots")
      }
      // deterministic pick: the first survivor (enumeration order puts
      // cw=false first at every level)
      val picked = survivors.head
      for (d <- 0 to otherFaces.size) {
        val f = if (d == 0) homeFace else otherFaces(d - 1)
        assign(f) = combosOf(f)(picked(d))
      }

      // global validation: every straddle pair agrees; no finished index
      // leads with K
      for (p <- pairs) {
        require(consistent(p, assign(p._1.face), assign(p._2.face)),
          s"pentagon $bc: global pair validation failed on " +
            s"${p._1.face}-${p._2.face}")
      }
      for ((_, _, ring) <- rings; s <- ring if s != null) {
        val fin = finishedOf(s, assign(s.face))
        require(leadingNonZeroDigit(fin) != 1,
          s"pentagon $bc: finished index leads with K on face ${s.face}")
      }

      // every table slot of this bc on an assigned face gets that face's
      // rotation
      for {
        f <- faces; i <- 0 to 2; j <- 0 to 2; k <- 0 to 2
        idx = tabIdx(f, i, j, k) if TabBc(idx) == bc
      } {
        val (rot, cw) = assign(f)
        TabRot(idx) = rot
        if (cw) PentCwOffset(bc * 32 + f) = true
      }
    }
  }

  // ------------------------------------------------------------------
  // Face neighbours
  // ------------------------------------------------------------------
  private def deriveFaceNeighbors(): Unit = {
    // physical positions of each face's three vertices
    val pos = Array.ofDim[Double](20, 3, 3)
    for (f <- 0 until 20; v <- 0 until 3) {
      val (a, b) = FaceVertAxial(v)
      val (la, lo) = hex2dToGeo(f, a.toDouble - 0.5 * b, b * Sin60, 0)
      pos(f)(v)(0) = cos(la) * cos(lo)
      pos(f)(v)(1) = cos(la) * sin(lo)
      pos(f)(v)(2) = sin(la)
    }
    @inline def same(p: Array[Double], q: Array[Double]): Boolean = {
      val dx = p(0) - q(0); val dy = p(1) - q(1); val dz = p(2) - q(2)
      dx * dx + dy * dy + dz * dz < 1e-18
    }
    @inline def rotC(a0: Long, b0: Long, c: Int): (Long, Long) = {
      var a = a0; var b = b0
      var k = 0
      while (k < c) { val t = a - b; b = a; a = t; k += 1 } // ccw60 axial
      (a, b)
    }
    for (f <- 0 until 20; e <- 0 until 3) {
      val pA = pos(f)(e); val pB = pos(f)((e + 1) % 3)
      val gs = for {
        g <- 0 until 20 if g != f
        va <- 0 until 3 if same(pos(g)(va), pA)
        vb <- 0 until 3 if same(pos(g)(vb), pB)
      } yield (g, va, vb)
      require(gs.size == 1, s"face $f edge $e: adjacency not unique: $gs")
      val (g, va, vb) = gs.head
      EdgeFace(f)(e) = g
      for (r <- 0 to MaxRes) {
        val aF = descend0Axial(FaceVertAxial(e)._1, FaceVertAxial(e)._2, r)
        val bF = descend0Axial(FaceVertAxial((e + 1) % 3)._1,
          FaceVertAxial((e + 1) % 3)._2, r)
        val aG = descend0Axial(FaceVertAxial(va)._1, FaceVertAxial(va)._2, r)
        val bG = descend0Axial(FaceVertAxial(vb)._1, FaceVertAxial(vb)._2, r)
        val dF = (bF._1 - aF._1, bF._2 - aF._2)
        val dG = (bG._1 - aG._1, bG._2 - aG._2)
        var c = -1
        for (k <- 0 to 5) {
          val (ra, rb) = rotC(dF._1, dF._2, k)
          if (ra == dG._1 && rb == dG._2) {
            require(c < 0, s"face $f edge $e res $r: rotation ambiguous")
            c = k
          }
        }
        require(c >= 0, s"face $f edge $e res $r: no 60° rotation maps the edge")
        val (xa, xb) = rotC(aF._1, aF._2, c)
        EdgeRot(f)(e)(r) = c
        EdgeTA(f)(e)(r) = aG._1 - xa
        EdgeTB(f)(e)(r) = aG._2 - xb
        // second endpoint must map exactly under the same isometry
        val (ya, yb) = rotC(bF._1, bF._2, c)
        require(ya + EdgeTA(f)(e)(r) == bG._1 && yb + EdgeTB(f)(e)(r) == bG._2,
          s"face $f edge $e res $r: endpoint B does not map")
      }
      // geometric cross-check at a few res: the shared-edge midpoint
      // lattice point must unproject to the SAME physical point through
      // both charts after mapping (catches orientation/parity errors)
      for (r <- Seq(0, 1, 2, 5)) {
        val m0a = (FaceVertAxial(e)._1 + FaceVertAxial((e + 1) % 3)._1) / 2
        val m0b = (FaceVertAxial(e)._2 + FaceVertAxial((e + 1) % 3)._2) / 2
        val (mfa, mfb) = descend0Axial(m0a, m0b, r)
        val (ra, rb) = rotC(mfa, mfb, EdgeRot(f)(e)(r))
        val ga = ra + EdgeTA(f)(e)(r)
        val gb = rb + EdgeTB(f)(e)(r)
        val (laF, loF) = hex2dToGeo(f, mfa.toDouble - 0.5 * mfb,
          mfb * Sin60, r)
        val (laG, loG) = hex2dToGeo(g, ga.toDouble - 0.5 * gb,
          gb * Sin60, r)
        val d = cos(laF) * cos(loF) * cos(laG) * cos(loG) +
          cos(laF) * sin(loF) * cos(laG) * sin(loG) + sin(laF) * sin(laG)
        // tolerance: the published face constants carry ~1e-9 residual
        // (deriveTables' own clustering band), which the two gnomonic
        // round trips amplify to ~1e-8; 1e-7 rad is still orders below
        // the finest pitch checked here (res 5 ≈ 2e-3 rad)
        require(acos(max(-1.0, min(1.0, d))) < 1e-7,
          s"face $f edge $e res $r: mapped edge midpoint diverges")
      }
    }
  }
}
