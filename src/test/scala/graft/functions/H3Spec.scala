package graft.functions

import org.scalatest.funsuite.AnyFunSuite

/** Fidelity spec for [[H3]] — `latLngToCell` against PUBLISHED H3 test
  * vectors (Uber H3 docs / h3-js README / deck.gl tutorials), plus the
  * geometric consistency properties the derivation relies on.
  *
  * Externally validated: all hexagon vectors below (resolutions 0, 5, 7,
  * 9, 10 across four icosahedron faces). Pentagon cells have NO offline
  * published vectors available here; their orientation is pinned by the
  * table derivation's consistency search (straddling face-boundary pairs
  * must index identically, no finished index may lead with the deleted
  * K digit — both `require`d by [[H3Derivation]], whose result
  * `H3TablesSpec` checks the [[H3Tables]] literal against) and by the
  * internal-consistency tests at the bottom.
  */
class H3Spec extends AnyFunSuite {

  // ------------------------------------------------------------------
  // Published vectors
  // ------------------------------------------------------------------
  test("H3 docs quickstart: SF at res 9") {
    // docs.uber.com h3 'Indexing functions' example
    assert(H3.latLngToCellString(37.7752702151959, -122.418307270836, 9)
      === "8928308280fffff")
  }

  test("h3-js README: Cupertino at res 5 and 7") {
    assert(H3.latLngToCellString(37.3615593, -122.0553238, 5)
      === "85283473fffffff")
    assert(H3.latLngToCellString(37.3615593, -122.0553238, 7)
      === "87283472bffffff")
  }

  test("north pole is base cell 1's res-0 cell") {
    assert(H3.latLngToCellString(90.0, 0.0, 0) === "8001fffffffffff")
  }

  test("deck.gl/h3 tutorial: Statue of Liberty at res 10") {
    assert(H3.latLngToCellString(40.689167, -74.044444, 10)
      === "8a2a1072b59ffff")
  }

  // ------------------------------------------------------------------
  // Index structure
  // ------------------------------------------------------------------
  test("index layout: mode 1, resolution and base cell fields") {
    for (res <- 0 to 15) {
      val h = H3.latLngToCell(40.7, -74.0, res)
      assert((h >>> 59) === 1L, s"mode bits at res $res")
      assert(H3.getResolution(h) === res)
      val bc = H3.getBaseCell(h)
      assert(bc >= 0 && bc < H3.NumBaseCells)
      // digits past the resolution are all 7
      val unusedMask = (1L << ((H3.MaxRes - res) * 3)) - 1
      assert((h & unusedMask) === unusedMask, s"unused digits at res $res")
    }
  }

  test("exactly 12 pentagons at the published base-cell numbers") {
    val pents = H3.pentagonCenters
    assert(pents.map(_._1).toSet ===
      Set(4, 14, 24, 38, 49, 58, 63, 72, 83, 97, 107, 117))
  }

  // ------------------------------------------------------------------
  // Cross-face continuity: a point pair 1e-9 rad apart straddling a
  // face-boundary resolves through two different charts but must (with
  // probability 1) land in the same res-7 cell. Walk the bisector of
  // every adjacent face-center pair; allow the rare genuine cell-edge
  // hit.
  // ------------------------------------------------------------------
  test("base-cell boundary straddle pairs resolve sanely (res 7)") {
    // walk each parallel to a res-0 cell switch, bisect to 1e-9°, and
    // check the two sides — which may resolve through two different
    // face charts — land in exactly the two expected base cells (no
    // chart-mismatch garbage cells)
    var checked = 0
    for (latI <- -8 to 8; lngI <- 0 until 36) {
      val lat0 = latI * 10.0
      val lng0 = lngI * 10.0 - 180.0
      val lng1 = lng0 + 10.0
      val c0 = H3.latLngToCell(lat0, lng0, 0)
      val c1 = H3.latLngToCell(lat0, lng1, 0)
      if (c0 != c1) {
        var lo = lng0; var hi = lng1
        while (hi - lo > 1e-9) {
          val mid = (lo + hi) / 2
          if (H3.latLngToCell(lat0, mid, 0) == c0) lo = mid else hi = mid
        }
        val a = H3.latLngToCell(lat0, lo, 7)
        val b = H3.latLngToCell(lat0, hi, 7)
        checked += 1
        // aperture-7 children overflow their parent's boundary, so the
        // res-7 base-cell field near a res-0 edge may be EITHER
        // neighbor (or a third cell at a corner) — check membership in
        // the local res-0 neighborhood, not equality
        val nearby = (for {
          dLat <- Seq(-1.5, 0.0, 1.5); dLng <- Seq(-1.5, 0.0, 1.5)
        } yield H3.getBaseCell(
          H3.latLngToCell(lat0 + dLat, lo + dLng, 0))).toSet
        assert(Set(H3.getBaseCell(a), H3.getBaseCell(b)).subsetOf(nearby))
      }
    }
    assert(checked > 30, s"expected many base-cell switches, got $checked")
  }

  test("continuity: 1e-9-degree perturbations keep the res-9 cell") {
    var flips = 0
    var n = 0
    for (latI <- -80 to 80 by 7; lngI <- -175 to 175 by 11) {
      val lat = latI + 0.123456
      val lng = lngI + 0.654321
      val a = H3.latLngToCell(lat, lng, 9)
      val b = H3.latLngToCell(lat + 1e-9, lng + 1e-9, 9)
      if (a != b) flips += 1
      n += 1
    }
    // res-9 cells are ~1e-3 degrees across; a 1e-9 step straddles a cell
    // edge with probability ~1e-6 per sample
    assert(flips <= 1, s"$flips cell flips out of $n")
  }

  // ------------------------------------------------------------------
  // Pentagon internal consistency (no offline external vectors; the
  // orientation search itself is `require`d by H3Derivation)
  // ------------------------------------------------------------------
  test("pentagon centers index to their own base cell at res 0") {
    for ((bc, lat, lng) <- H3.pentagonCenters) {
      val h = H3.latLngToCell(lat, lng, 0)
      assert(H3.getBaseCell(h) === bc)
      assert(H3.isPentagonCell(h))
    }
  }

  test("pentagon neighborhoods: valid indexes, no leading K digit") {
    for ((bc, lat, lng) <- H3.pentagonCenters; res <- Seq(3, 6, 9)) {
      var az = 0
      while (az < 36) {
        // ~2.3° ring inside the res-0 pentagon cell
        val la = lat + 2.3 * math.cos(az * math.Pi / 18)
        val lo = lng + 2.3 * math.sin(az * math.Pi / 18) /
          math.max(0.2, math.cos(lat * math.Pi / 180))
        val h = H3.latLngToCell(la, lo, res)
        if (H3.isPentagonCell(h) && H3.getBaseCell(h) == bc) {
          // leading non-zero digit must not be K (=1): the deleted axis
          var r = 1
          var lead = 0
          while (r <= res && lead == 0) {
            lead = ((h >>> ((H3.MaxRes - r) * 3)) & 7L).toInt
            r += 1
          }
          assert(lead != 1, s"leading K digit near pentagon $bc at res $res")
        }
        az += 1
      }
    }
  }

  test("all 12 pentagons: center indexes equal getPentagons' derived form") {
    // What IS externally validated here, for every one of the 12
    // pentagons: the published `getPentagons(res)` output is, by the H3
    // index spec, the all-zero-digit child of each pentagon base cell —
    // mode 1, the res field, the base cell, digits 1..res all 0, unused
    // digits all 7 (e.g. res 0 → 8009fffffffffff…80ebfffffffffff, res 1
    // → 81083ffffffffff…). A pentagon's center is an icosahedron vertex,
    // and its IJK center must map to digit 0 at EVERY resolution, so
    // indexing the center must reproduce exactly those published values.
    // What is NOT externally validated (no offline off-center pentagon
    // vectors exist in this build): the CCW sub-digit rotation within
    // each pentagon — that orientation is pinned by the derivation's
    // consistency search (face-straddle equality + no leading K digit,
    // both `require`d, checked by H3TablesSpec) and the neighborhood
    // test above.
    for ((bc, lat, lng) <- H3.pentagonCenters; res <- 0 to 15) {
      val want = (1L << 59) | (res.toLong << 52) | (bc.toLong << 45) |
        ((1L << ((H3.MaxRes - res) * 3)) - 1)
      assert(H3.latLngToCell(lat, lng, res) === want,
        f"pentagon $bc center at res $res: " +
          f"got ${H3.latLngToCell(lat, lng, res)}%015x want $want%015x")
    }
  }

  test("res-9 pentagon cells: published center form + tight-ring digits") {
    // Closes the round-9 residual scope: the reference indexes at RES 9
    // (`enrichment_query.py:10,17`), and the center-form test above now
    // covers res 0–15, so the published getPentagons-derived index is
    // reproduced at the use resolution for all 12 pentagons. The ring
    // sweep here exercises the OFF-CENTER res-9 digit pipeline around
    // each icosahedron vertex (the pentagon distortion region proper):
    // every index must be structurally valid at res 9, indexes in the
    // pentagon base cell must never carry a leading K digit (the
    // deleted subsequence, per the published index spec), and the
    // ~2-cell-radius ring must resolve to many distinct cells (a
    // collapsed/degenerate chart would funnel them into few).
    //
    // Remaining gap, stated precisely: the CCW sub-digit ORIENTATION of
    // off-center cells inside a pentagon base cell at res ≥ 1 has no
    // offline published vectors in this build — it is pinned by the
    // derivation's consistency search (`require`d face-straddle equality,
    // no-leading-K) and these structural invariants, not by an external
    // oracle. No NYC fixture geometry touches a pentagon.
    for ((bc, lat, lng) <- H3.pentagonCenters) {
      val h9 = H3.latLngToCell(lat, lng, 9)
      assert(H3.isPentagonCell(h9) && H3.getBaseCell(h9) === bc)
      val d = 0.004 // ~2.3 res-9 cells (edge ~1.7e-3 deg)
      val ring = (0 until 720).map { i =>
        val az = i * math.Pi / 360
        val la = lat + d * math.cos(az)
        val lo = lng + d * math.sin(az) /
          math.max(0.2, math.cos(math.toRadians(lat)))
        H3.latLngToCell(la, lo, 9)
      }
      ring.foreach { h =>
        assert(H3.getResolution(h) === 9)
        val mask = (1L << ((H3.MaxRes - 9) * 3)) - 1
        assert((h & mask) === mask, f"unused digits in $h%015x")
        if (H3.getBaseCell(h) == bc) {
          var r = 1; var lead = 0
          while (r <= 9 && lead == 0) {
            lead = ((h >>> ((H3.MaxRes - r) * 3)) & 7L).toInt
            r += 1
          }
          assert(lead !== 1,
            f"leading K digit at res 9 near pentagon $bc: $h%015x")
        }
      }
      // consensus forward + gridDisk (round 11): d = 0.004° is ~1.8×
      // the true vertex-compressed pitch (0.00224°), so the sampled
      // circle lies in RING-2 — every sample must be in the pentagon's
      // 2-disk and outside its 1-disk (pre-consensus, chart-boundary
      // slivers fragmented this circle across 8+ cells of mixed rings;
      // that fragmentation was the disconnected-region defect the
      // consensus band fixed)
      val disk1 = H3.gridDisk(h9, 1).toSet
      val disk2 = H3.gridDisk(h9, 2).toSet
      val ringSet = ring.distinct.toSet
      assert(ringSet.size >= 5 && ringSet.subsetOf(disk2 -- disk1),
        s"1.8-pitch circle around pentagon $bc not clean ring-2: " +
          ringSet.map(x => f"0x$x%x").mkString(","))
      // ...and a circle at ~1.1× the vertex pitch resolves to EXACTLY
      // the 5 lattice neighbors gridRing1 derives — an independent
      // geometric cross-validation of the traversal
      val d1 = 0.0025
      val inner = (0 until 720).map { i =>
        val az = i * math.Pi / 360
        val la = lat + d1 * math.cos(az)
        val lo = lng + d1 * math.sin(az) /
          math.max(0.2, math.cos(math.toRadians(lat)))
        H3.latLngToCell(la, lo, 9)
      }.distinct.toSet
      assert(inner === H3.gridRing1(h9).toSet,
        s"1.1-pitch circle around pentagon $bc is not its 5 neighbors")
      // off-center = same base cell, digits not all zero (isPentagonCell
      // is the base-cell-membership predicate here, not digit-zero-ness)
      assert(ring.exists(h => H3.getBaseCell(h) == bc && h != h9),
        s"ring around pentagon $bc never hit an off-center in-cell index")
    }
  }

  // ------------------------------------------------------------------
  // cellToLatLng (inverse) — round-trip properties
  // ------------------------------------------------------------------
  test("cellToLatLng: published center vector (SF res 9)") {
    // h3 docs cellToLatLng example: 8928308280fffff →
    // (37.77670234943567, -122.41845932318311). Our derivation is
    // independent, so agree to the cell scale (~100 m at res 9), and
    // exactly on the round-trip identity.
    val (la, lo) = H3.cellToLatLng("8928308280fffff")
    assert(math.abs(la - 37.77670234943567) < 2e-3 &&
      math.abs(lo - (-122.41845932318311)) < 2e-3,
      s"center drifted: ($la, $lo)")
    assert(H3.latLngToCellString(la, lo, 9) === "8928308280fffff")
  }

  test("round-trip identity: random points, all resolutions 0-15") {
    val rnd = new scala.util.Random(20260814L)
    for (_ <- 1 to 400) {
      // uniform on the sphere: lat from asin of uniform z
      val lat = math.toDegrees(math.asin(rnd.nextDouble() * 2 - 1))
      val lng = rnd.nextDouble() * 360.0 - 180.0
      val res = rnd.nextInt(16)
      val cell = H3.latLngToCell(lat, lng, res)
      val (cLat, cLng) = H3.cellToLatLng(cell)
      assert(H3.latLngToCell(cLat, cLng, res) === cell,
        f"round trip broke at ($lat%.6f, $lng%.6f) res $res")
      // center is a fixed point: inverting its own cell returns the
      // bit-identical coordinates (the lattice-point unprojection)
      val (fLat, fLng) = H3.cellToLatLng(H3.latLngToCell(cLat, cLng, res))
      assert(fLat === cLat && fLng === cLng,
        f"center not a fixed point at ($lat%.6f, $lng%.6f) res $res")
    }
  }

  test("round-trip identity: pentagon children at res 1-6") {
    // every child digit path under each of the 12 pentagons — the
    // cross-face overage + sub-digit orientation surface (res ≥ 1
    // CCW sub-digit orientation off-center is exactly what a wrong
    // chart unprojection breaks)
    for ((bc, pLat, pLng) <- H3.pentagonCenters) {
      for (res <- 1 to 6) {
        val pc = H3.latLngToCell(pLat, pLng, res)
        assert(H3.isPentagonCell(pc))
        val (cLat, cLng) = H3.cellToLatLng(pc)
        assert(H3.latLngToCell(cLat, cLng, res) === pc,
          s"pentagon $bc center cell broke at res $res")
      }
      // ring samples around the vertex: cells on all 5 fanned faces,
      // including overage cells outside the home chart's face region
      val rnd = new scala.util.Random(bc * 7919L + 17)
      for (_ <- 1 to 40) {
        val az = rnd.nextDouble() * 2 * math.Pi
        val rho = 0.02 + rnd.nextDouble() * 0.1 // radians from vertex
        val lat = pLat + math.toDegrees(rho) * math.cos(az)
        val lng = pLng + math.toDegrees(rho) * math.sin(az) /
          math.max(0.2, math.cos(math.toRadians(pLat)))
        if (math.abs(lat) < 89.9) {
          val res = 1 + rnd.nextInt(9)
          val cell = H3.latLngToCell(lat, lng, res)
          val (cLat, cLng) = H3.cellToLatLng(cell)
          assert(H3.latLngToCell(cLat, cLng, res) === cell,
            f"pentagon-$bc-neighborhood trip broke at " +
              f"($lat%.5f, $lng%.5f) res $res")
        }
      }
    }
  }

  test("cellToLatLng: all 122 res-0 cells invert to their own cell") {
    // reach every base cell by inverting res-0 indexes directly
    for (bc <- 0 until 122) {
      val h = (1L << 59) | (0L << 52) | (bc.toLong << 45) | ((1L << 45) - 1)
      val (la, lo) = H3.cellToLatLng(h)
      assert(H3.latLngToCell(la, lo, 0) === h, s"base cell $bc")
    }
  }

  test("cellToLatLng rejects malformed indexes") {
    intercept[IllegalArgumentException] {
      H3.cellToLatLng(0L) // mode 0
    }
    intercept[IllegalArgumentException] {
      H3.cellToLatLng((1L << 59) | (125L << 45) | ((1L << 45) - 1)) // bc 125
    }
    intercept[IllegalArgumentException] {
      // res 1 but digit 7 kept at res 1 (used digit = 7)
      H3.cellToLatLng((1L << 59) | (1L << 52) | (16L << 45) | ((1L << 45) - 1))
    }
    intercept[IllegalArgumentException] {
      // pentagon (bc 4) with leading K digit (deleted subsequence)
      val h = (1L << 59) | (1L << 52) | (4L << 45) | ((1L << 45) - 1)
      val withK = (h & ~(7L << 42)) | (1L << 42) // digit 1 at res 1
      H3.cellToLatLng(withK)
    }
  }

  // ------------------------------------------------------------------
  // Grid traversal: gridRing1 / gridDisk
  // ------------------------------------------------------------------
  /** chord midpoint of two cell centers, as (lat°, lng°) */
  private def midpoint(a: Long, b: Long): (Double, Double) = {
    def vec(h: Long): (Double, Double, Double) = {
      val (laD, loD) = H3.cellToLatLng(h)
      val la = math.toRadians(laD); val lo = math.toRadians(loD)
      (math.cos(la) * math.cos(lo), math.cos(la) * math.sin(lo),
        math.sin(la))
    }
    val (ax, ay, az) = vec(a); val (bx, by, bz) = vec(b)
    val (mx, my, mz) = (ax + bx, ay + by, az + bz)
    val n = math.sqrt(mx * mx + my * my + mz * mz)
    (math.toDegrees(math.asin(mz / n)), math.toDegrees(math.atan2(my, mx)))
  }

  test("gridRing1: 6 distinct neighbors, symmetric, midpoint-adjacent " +
      "(random cells, all res)") {
    val rnd = new scala.util.Random(20260815L)
    for (_ <- 1 to 400) {
      val lat = math.toDegrees(math.asin(rnd.nextDouble() * 2 - 1))
      val lng = rnd.nextDouble() * 360.0 - 180.0
      val res = rnd.nextInt(16)
      val h = H3.latLngToCell(lat, lng, res)
      val ring = H3.gridRing1(h)
      val expected = if (H3.isPentagon(h)) 5 else 6
      // Contract (round 12): EXACT. The overage-normalized canonical
      // traversal (face-neighbor isometries + the digit-consistency
      // sign repair) closed the round-11 stitching gap — ring size is
      // exactly 6 (5 at a pentagon) and adjacency is symmetric, with
      // no bounded-incidence carve-outs (the res 0-4 exhaustive case
      // below pins the same law for every cell).
      assert(ring.length === expected,
        f"ring size ${ring.length} != $expected at " +
          f"($lat%.5f, $lng%.5f) res $res")
      assert(ring.distinct.length === ring.length)
      assert(!ring.contains(h))
      ring.foreach { c =>
        assert(H3.getResolution(c) === res)
        // adjacency symmetry — exercises the cross-face path from BOTH
        // charts
        assert(H3.gridRing1(c).contains(h),
          f"asymmetric adjacency: 0x$c%x does not see 0x$h%x back")
        // the chord midpoint of two ADJACENT centers sits on their
        // shared edge — it must index into one of the two, or (when
        // spherical distortion near icosahedron vertices, or the
        // ragged drift-scale region boundaries near face edges, make
        // near-equilateral triples) clip the corner of a COMMON
        // NEIGHBOR — allow exactly that (mutual triangle), nothing
        // wider. A distance-2 pair's midpoint would land in the
        // non-mutual cell between them and fail.
        val (mLat, mLng) = midpoint(h, c)
        val mc = H3.latLngToCell(mLat, mLng, res)
        assert(mc == h || mc == c ||
          (H3.gridRing1(mc).contains(h) && H3.gridRing1(mc).contains(c)),
          f"midpoint of 0x$h%x and 0x$c%x lands in non-mutual cell 0x$mc%x")
      }
    }
  }

  test("gridRing1 over every cell at res 0-4 (336,130 cells): 6 distinct " +
      "neighbours, 5 at a pentagon; symmetric adjacency at res 0-3") {
    // The law that lets gridRing1 have one path: the canonical integer
    // ring resolves every cell, so there is no geometric fallback to
    // take. gridRing1 itself throws on a short ring; the counts below
    // also catch duplicates, self-neighbours and resolution changes.
    var cells = 0
    val bad = scala.collection.mutable.ArrayBuffer.empty[String]
    for (res <- 0 to 4) {
      val rings = scala.collection.mutable.HashMap.empty[Long, Array[Long]]
      for (bc <- 0 until H3.NumBaseCells) {
        val b = (1L << 59) | (bc.toLong << 45) | ((1L << 45) - 1)
        val level = if (res == 0) Array(b) else H3.cellToChildren(b, res)
        level.foreach { h =>
          cells += 1
          val ring =
            try H3.gridRing1(h)
            catch { case e: IllegalStateException =>
              bad += e.getMessage; Array.emptyLongArray }
          val expected = if (H3.isPentagon(h)) 5 else 6
          if (ring.length != expected || ring.distinct.length != expected ||
              ring.contains(h) || ring.exists(H3.getResolution(_) != res))
            bad += f"0x$h%x ring ${ring.map(c => f"$c%x").mkString(",")}"
          if (res <= 3) rings(h) = ring
        }
      }
      for ((h, ring) <- rings; c <- ring if !rings.get(c).exists(_.contains(h)))
        bad += f"asymmetric: 0x$c%x does not see 0x$h%x back"
    }
    assert(cells === 336130)
    assert(bad.isEmpty, s"${bad.size} failures, first: ${bad.take(5)}")
  }

  test("cross-chart label consistency: hexagon assemblies agree through " +
      "the face-neighbor isometry (res 0-3, every edge, every coord)") {
    // The round-12 invariant that makes the whole system combinatorial:
    // for every face edge (f -> g, rotation c) and every coordinate X
    // where BOTH charts can assemble, assembleF(X) == assembleG(iso(X))
    // for hexagon base cells — a pentagon on the far side counts as a
    // mismatch, so at res 0 this is the table law "every in-table slot
    // maps onto the same base cell". (Pentagon digit strings live in a
    // 5-sector quotient — the plain hexagonal isometry does not apply
    // across the deleted axis; their table-checked law is the
    // pentagon-quotient orbit test below, plus the derivation's straddle
    // CSP and the pentagon ring/disk tests.)
    for (res <- 0 to 3) {
      val hexMis = H3Spec.countHexIsoMismatches(res)
      assert(hexMis === 0,
        s"res $res: $hexMis hexagon cross-chart assembly mismatches")
    }
  }

  test("pentagon-quotient consistency: cross-chart pentagon assemblies " +
      "lie in one order-5 orbit — identity on the shared sector, " +
      "exactly ONE defect step beyond (res 0-3, every edge, every coord)") {
    // Round-12 law (the deleted-axis analogue of the hexagon law
    // above): inside a pentagon base cell the hexagonal edge isometry
    // is exact on the sector both charts physically share and off by
    // the icosahedron vertex's curvature defect past it. So for every
    // coordinate where both charts assemble and the home cell is a
    // pentagon: (a) the two canonical labels lie in ONE order-5
    // pentagon-rotation orbit — zero exceptions, so the far side is
    // the same base cell; (b) per (face, edge,
    // pentagon) the observed steps are {0} ∪ at most one nonzero step;
    // (c) that step is a single sector (+1 or -1 ≡ 4), one direction
    // per unfolding, never a 2+ jump and never both directions. An
    // out-of-orbit pair or a mixed/multi-sector step would mean the
    // derived tables' pentagon slots disagree in a way no single
    // defect explains.
    for (res <- 0 to 3) {
      val (pairs, outOfOrbit, steps) = H3Spec.pentIsoOrbitStats(res)
      assert(outOfOrbit === 0,
        s"res $res: $outOfOrbit cross-chart pentagon pairs outside the " +
          "order-5 orbit")
      val bad = steps.filter { case (_, ks) =>
        val nz = ks - 0
        nz.size > 1 || !nz.subsetOf(Set(1, 4))
      }
      assert(bad.isEmpty,
        s"res $res: non-single-defect steps at ${bad.take(3)}")
      // res 0 carries no digits: every pentagon slot mapped across a
      // face edge is the same res-0 cell on both sides (the base-cell
      // table law)
      if (res == 0)
        assert(pairs > 0 && steps.values.forall(_ == Set(0)),
          s"res 0: pentagon slots disagree across a face edge: $steps")
      if (res > 0) {
        assert(pairs > 100,
          s"res $res: only $pairs pentagon pairs enumerated — weak law")
        // non-vacuity of the defect half: the one-sector step is
        // actually observed (it is, on every pentagon edge at res>=1)
        assert(steps.exists(_._2.exists(_ != 0)),
          s"res $res: no defect-step pair enumerated — weak law")
      }
    }
  }

  test("gridDisk: hexagon counts 1/7/19/37, monotone, exact near pentagons") {
    val rnd = new scala.util.Random(977L)
    var awayFromPent = 0
    while (awayFromPent < 40) {
      val lat = math.toDegrees(math.asin(rnd.nextDouble() * 2 - 1))
      val lng = rnd.nextDouble() * 360.0 - 180.0
      val res = 3 + rnd.nextInt(13)
      val h = H3.latLngToCell(lat, lng, res)
      val d3 = H3.gridDisk(h, 3)
      // at res >= 3 a random cell's 3-disk virtually never touches one
      // of the 12 pentagons; skip the sample if it does
      if (!d3.exists(H3.isPentagonCell)) {
        awayFromPent += 1
        assert(H3.gridDisk(h, 0).toSeq === Seq(h))
        val d1 = H3.gridDisk(h, 1); val d2 = H3.gridDisk(h, 2)
        // EXACT counts (round 12): the canonical overage-normalized
        // traversal has no stitching gap — away from pentagons every
        // k-disk is the full hexagon count 1+3k(k+1)
        assert(d1.length == 7 && d2.length == 19 && d3.length == 37,
          f"incomplete disk at 0x$h%x res $res: " +
            s"${d1.length}/${d2.length}/${d3.length}")
        assert(d1.forall(d2.contains) && d2.forall(d3.contains))
        assert(d1.contains(h))
      }
    }
  }

  test("gridDisk at pentagons: 1+5k(k+1)/2 counts (6 / 16 / 31)") {
    for ((bc, pLat, pLng) <- H3.pentagonCenters; res <- Seq(2, 5, 9)) {
      val p = H3.latLngToCell(pLat, pLng, res)
      assert(H3.isPentagonCell(p))
      assert(H3.gridRing1(p).length === 5, s"pentagon $bc res $res ring")
      assert(H3.gridDisk(p, 1).length === 6, s"pentagon $bc res $res k=1")
      assert(H3.gridDisk(p, 2).length === 16, s"pentagon $bc res $res k=2")
      assert(H3.gridDisk(p, 3).length === 31, s"pentagon $bc res $res k=3")
      // the 5 neighbors all see the pentagon back, and see each other
      // in a closed 5-cycle (each neighbor is adjacent to exactly 2 of
      // its ring siblings)
      val ring = H3.gridRing1(p)
      ring.foreach { c =>
        assert(H3.gridRing1(c).contains(p))
        assert(ring.count(s => s != c && H3.gridRing1(c).contains(s)) === 2,
          s"pentagon $bc res $res ring not a 5-cycle at 0x$c%x")
      }
    }
  }

  test("gridRing1 hex-string form round-trips and sorts") {
    val cell = "8928308280fffff"
    val disk = H3.gridDiskHex(cell, 1)
    assert(disk.length === 7 && disk.contains(cell))
    assert(disk.toSeq === disk.toSeq.sorted)
    // every emitted id is a valid, invertible cell of the same res
    disk.foreach { c =>
      val (la, lo) = H3.cellToLatLng(c)
      assert(H3.latLngToCellString(la, lo, 9) === c)
    }
  }

  // ------------------------------------------------------------------
  // Hierarchy: parent / children / compact / uncompact
  // ------------------------------------------------------------------
  test("hierarchy: parent truncates, children invert, counts match " +
      "(random cells incl. pentagons)") {
    val rnd = new scala.util.Random(20260815L)
    val anchors =
      (1 to 60).map { _ =>
        val lat = math.toDegrees(math.asin(rnd.nextDouble() * 2 - 1))
        val lng = rnd.nextDouble() * 360.0 - 180.0
        H3.latLngToCell(lat, lng, 2 + rnd.nextInt(8))
      } ++
        // pentagon CELLS at several resolutions: the 6-child path
        H3.pentagonCenters.take(4).flatMap { case (bc, lat, lng) =>
          Seq(1, 3).map(r => H3.latLngToCell(lat, lng, r)).filter { h =>
            H3.isPentagon(h) && H3.getBaseCell(h) == bc
          }
        }
    assert(anchors.exists(H3.isPentagon), "no pentagon anchor sampled")
    for (h <- anchors) {
      val res = H3.getResolution(h)
      val cr = math.min(15, res + 2)
      val kids = H3.cellToChildren(h, cr)
      assert(kids.length === H3.childrenSize(h, cr).toInt)
      assert(kids.distinct.length === kids.length, "duplicate children")
      assert(kids.sorted.sameElements(kids), "children not ascending")
      // every child is a valid cell whose ancestor is h; the center
      // child is first (all-zero digits sort lowest)
      for (k <- kids) {
        assert(H3.cellToParent(k, res) === h)
        H3.cellToLatLng(k) // throws on any malformed index
      }
      assert(kids.head === H3.cellToCenterChild(h, cr))
      assert(H3.cellToParent(h, res) === h, "parent at own res is identity")
      // pentagon center paths: 6 children at +1, never a leading K
      val expect1 = if (H3.isPentagon(h)) 6 else 7
      assert(H3.cellToChildren(h, math.min(15, res + 1)).length ===
        (if (res + 1 > 15) 1 else expect1))
    }
  }

  test("compactCells: children collapse to the parent; partial sets " +
      "survive; uncompact inverts") {
    val rnd = new scala.util.Random(7349L)
    val anchors = (1 to 20).map { _ =>
      val lat = math.toDegrees(math.asin(rnd.nextDouble() * 2 - 1))
      val lng = rnd.nextDouble() * 360.0 - 180.0
      H3.latLngToCell(lat, lng, 1 + rnd.nextInt(7))
    } ++ H3.pentagonCenters.take(2).map { case (_, lat, lng) =>
      H3.latLngToCell(lat, lng, 2)
    }
    for (h <- anchors) {
      val res = H3.getResolution(h)
      val cr = res + 2
      val full = H3.cellToChildren(h, cr)
      // full descendant set compacts all the way back to h
      assert(H3.compactCells(full).sameElements(Array(h)))
      // dropping one child strands its whole sibling branch: the
      // missing child's parent stays expanded, every other res-(cr-1)
      // parent promotes, and h itself cannot form
      val dropped = full.filter(_ != full.last)
      val compacted = H3.compactCells(dropped)
      assert(!compacted.contains(h))
      assert(H3.uncompactCells(compacted, cr).sorted
        .sameElements(dropped.sorted), "uncompact∘compact ≠ identity")
      // compact is idempotent on already-minimal covers per res class:
      // re-uncompacting and compacting reproduces the same cover
      val again = H3.compactCells(H3.uncompactCells(compacted, cr))
      assert(again.sorted.sameElements(compacted.sorted))
    }
  }

  test("compactCells rejects duplicates and mixed resolutions") {
    val h = H3.latLngToCell(40.7, -74.0, 6)
    val kids = H3.cellToChildren(h, 7)
    intercept[IllegalArgumentException] {
      H3.compactCells(kids :+ kids.head)
    }
    intercept[IllegalArgumentException] {
      H3.compactCells(Array(h, kids.head))
    }
    intercept[IllegalArgumentException] {
      H3.cellToParent(h, 7) // parent res above own res
    }
  }

  test("hierarchy hex forms round-trip the binary forms") {
    val h = H3.latLngToCell(37.7752702151959, -122.418307270836, 9)
    val hex = f"$h%x"
    assert(H3.cellToParentHex(hex, 5) === f"${H3.cellToParent(h, 5)}%x")
    assert(H3.cellToChildrenHex(hex, 10).toSeq ===
      H3.cellToChildren(h, 10).map(c => f"$c%x").toSeq)
    assert(H3.compactCellsHex(H3.cellToChildrenHex(hex, 11)).toSeq ===
      Seq(hex))
    assert(H3.uncompactCellsHex(Array(hex), 10).toSeq ===
      H3.cellToChildrenHex(hex, 10).toSeq)
  }

  // ------------------------------------------------------------------
  // Grid distance
  // ------------------------------------------------------------------
  test("gridDistance: equals the ring index of gridDisk (exact-traversal " +
      "ground truth), symmetric, incl. cross-face and pentagon pairs") {
    val rnd = new scala.util.Random(20260817L)
    var crossFace = 0
    for (_ <- 1 to 60) {
      val lat = math.toDegrees(math.asin(rnd.nextDouble() * 2 - 1))
      val lng = rnd.nextDouble() * 360.0 - 180.0
      val res = 3 + rnd.nextInt(8)
      val h = H3.latLngToCell(lat, lng, res)
      val disk = H3.gridDisk(h, 6)
      // ring index = BFS depth = true grid distance; every disk member
      // must agree, whichever internal path (flat chart formula or
      // BFS fallback) answers
      val byRing = (0 to 6).map(k => H3.gridDisk(h, k).toSet)
      for (c <- disk) {
        val truth = (0 to 6).find(k => byRing(k).contains(c)).get
        assert(H3.gridDistance(h, c) === truth,
          f"distance 0x$h%x → 0x$c%x != ring $truth")
        assert(H3.gridDistance(c, h) === truth, "asymmetric distance")
        if (H3.chartFace(c) != H3.chartFace(h)) crossFace += 1
      }
    }
    assert(crossFace > 0, "no cross-face pair sampled — weak test")
  }

  test("gridDistance: pentagon-involved pairs route exactly (BFS arm)") {
    for ((_, plat, plng) <- H3.pentagonCenters.take(3)) {
      val h = H3.latLngToCell(plat, plng, 4)
      assert(H3.isPentagon(h))
      for (k <- 1 to 3; c <- H3.gridDisk(h, k)
           if !H3.gridDisk(h, k - 1).contains(c)) {
        assert(H3.gridDistance(h, c) === k)
        assert(H3.gridDistance(c, h) === k)
      }
    }
  }

  test("gridDistance: flat fast path == BFS truth on the pentagon " +
      "second ring (the widened guard's new frontier)") {
    // Round-12 ADVICE: endpoint base cells being hexagons is not enough
    // for the flat formula — a path can still graze a pentagon defect.
    // The guard now excludes pentagon-ADJACENT base cells too; this
    // test attacks the remaining frontier: pairs whose base cells sit
    // in the SECOND ring around a pentagon (closest cells still taking
    // the flat path), at coarse res where that ring is nearest the
    // defect. Truth is the exact-traversal ring index.
    var flatPairs = 0
    for ((_, plat, plng) <- H3.pentagonCenters.take(4); res <- 0 to 2) {
      val p = H3.latLngToCell(plat, plng, res)
      val near = H3.gridDisk(p, 4)
        .filter(c => !H3.isPentProximalCell(c))
      for (a <- near) {
        val byRing = (0 to 8).map(k => H3.gridDisk(a, k).toSet)
        for (b <- near if a < b && byRing(8).contains(b)) {
          val truth = (0 to 8).find(k => byRing(k).contains(b)).get
          assert(H3.gridDistance(a, b) === truth,
            f"0x$a%x -> 0x$b%x: got ${H3.gridDistance(a, b)}, ring $truth")
          flatPairs += 1
        }
      }
    }
    assert(flatPairs > 50, s"only $flatPairs pairs probed — weak test")
  }

  test("gridDistance rejects mixed resolutions and malformed input") {
    val a = H3.latLngToCell(10, 10, 5)
    val b = H3.latLngToCell(10, 10, 6)
    intercept[IllegalArgumentException] { H3.gridDistance(a, b) }
    assert(H3.gridDistanceHex(f"$a%x", f"$a%x") === 0)
  }

  // ------------------------------------------------------------------
  // Boundary
  // ------------------------------------------------------------------
  private def haversine(a: (Double, Double), b: (Double, Double)): Double = {
    val (la1, lo1) = (math.toRadians(a._1), math.toRadians(a._2))
    val (la2, lo2) = (math.toRadians(b._1), math.toRadians(b._2))
    val s = math.sin((la2 - la1) / 2)
    val t = math.sin((lo2 - lo1) / 2)
    2 * math.asin(math.sqrt(
      s * s + math.cos(la1) * math.cos(la2) * t * t))
  }

  test("cellToBoundary: 6 corners; edges separate the cell from each " +
      "ring neighbor exactly (forward-index law)") {
    // The non-tautological boundary law: a point just INSIDE any edge
    // midpoint forward-indexes to the cell, just OUTSIDE to a ring-1
    // neighbor, and the 6 edges face the 6 neighbors bijectively. This
    // checks the boundary against latLngToCell itself — no reliance on
    // spherical equidistance, which gnomonic anisotropy (radial sec²ρ
    // vs tangential sec ρ) legitimately breaks by a few percent for
    // cells away from their face center, in true H3 too.
    val rnd = new scala.util.Random(20260816L)
    var checked = 0
    for (_ <- 1 to 120) {
      val lat = math.toDegrees(math.asin(rnd.nextDouble() * 2 - 1))
      val lng = rnd.nextDouble() * 360.0 - 180.0
      val res = 5 + rnd.nextInt(6)
      val h = H3.latLngToCell(lat, lng, res)
      val ring = H3.gridRing1(h).toSet
      val bPre = H3.cellToBoundary(h)
      val cPre = H3.cellToLatLng(h)
      // degree-space midpoint arithmetic below is meaningless across
      // the antimeridian wrap or at the poles — skip those cells
      val wraps = math.abs(cPre._1) > 85 ||
        bPre.exists(v => math.abs(v._2 - cPre._2) > 90)
      if (!H3.isPentagonCell(h) && !ring.exists(H3.isPentagonCell) &&
          !wraps) {
        val b = bPre
        assert(b.length === 6)
        val c = cPre
        val hit = scala.collection.mutable.Set.empty[Long]
        for (v <- 0 until 6) {
          val (la1, lo1) = b(v)
          val (la2, lo2) = b((v + 1) % 6)
          val (mLat, mLng) = ((la1 + la2) / 2, (lo1 + lo2) / 2)
          val in = H3.latLngToCell(
            mLat + (c._1 - mLat) * 0.05, mLng + (c._2 - mLng) * 0.05, res)
          assert(in === h, s"inside-edge point left ${h.toHexString}")
          val out = H3.latLngToCell(
            mLat - (c._1 - mLat) * 0.05, mLng - (c._2 - mLng) * 0.05, res)
          assert(out !== h, s"outside-edge point stayed in ${h.toHexString}")
          assert(ring.contains(out),
            s"outside-edge point skipped the ring of ${h.toHexString}")
          hit += out
          // corners too: nudged inward they index to h
          val inC = H3.latLngToCell(
            la1 + (c._1 - la1) * 0.05, lo1 + (c._2 - lo1) * 0.05, res)
          assert(inC === h, s"inside-corner point left ${h.toHexString}")
        }
        assert(hit.size === 6,
          s"edges of ${h.toHexString} face only ${hit.size} distinct " +
            "neighbors")
        checked += 1
      }
    }
    assert(checked > 80)
  }

  test("cellToBoundary: adjacent interior cells share exactly two corners") {
    val rnd = new scala.util.Random(555L)
    var checked = 0
    for (_ <- 1 to 40) {
      val lat = math.toDegrees(math.asin(rnd.nextDouble() * 2 - 1))
      val lng = rnd.nextDouble() * 360.0 - 180.0
      val res = 5 + rnd.nextInt(6)
      val h = H3.latLngToCell(lat, lng, res)
      val ring = H3.gridRing1(h)
      if (!H3.isPentagonCell(h) && !ring.exists(H3.isPentagonCell)) {
        val pitch = haversine(H3.cellToLatLng(h),
          H3.cellToLatLng(ring.head))
        val mine = H3.cellToBoundary(h)
        for (n <- ring) {
          val theirs = H3.cellToBoundary(n)
          // cross-face neighbor pairs compute the shared corner
          // through different charts — identical to within the
          // projective distortion, bit-equal on a shared chart
          val shared = mine.count(v =>
            theirs.exists(w => haversine(v, w) < 0.05 * pitch))
          assert(shared === 2,
            s"${h.toHexString} and ${n.toHexString} share $shared corners")
        }
        checked += 1
      }
    }
    assert(checked > 25)
  }

  test("cellToBoundary per-face corners (round 13): shared corners are " +
      "chart-canonical, the home-chart fallback is enumerated and tiny") {
    // Exhaustive at res 0–2 (122 / 842 / 5882 cells): every corner
    // shared by two hexagons agrees to ulp level — both sides compute
    // the same lattice point in the corner's OWNING chart
    // (overageNormalizeSub), where a home-chart unprojection would
    // diverge by up to the projective distortion. No corner falls back
    // to its home chart: cellToBoundary has no such path.
    for (res <- 0 to 2) {
      var corners = 0
      var sharedPairs = 0
      var worstRel = 0.0
      val cells = (0 until 122).flatMap { bc =>
        val b = (1L << 59) | (bc.toLong << 45) | ((1L << 45) - 1)
        if (res == 0) Seq(b) else H3.cellToChildren(b, res).toSeq
      }
      val bnd = scala.collection.mutable.Map
        .empty[Long, Array[(Double, Double)]]
      def get(h: Long) = bnd.getOrElseUpdate(h, H3.cellToBoundary(h))
      for (h <- cells if !H3.isPentagonCell(h)) {
        val mine = get(h)
        corners += 6
        val ring = H3.gridRing1(h)
        val pitch = haversine(H3.cellToLatLng(h), H3.cellToLatLng(ring.head))
        for (n <- ring if !H3.isPentagonCell(n)) {
          val theirs = get(n)
          for (v <- 0 until 6; wi <- 0 until 6) {
            if (haversine(mine(v), theirs(wi)) < 0.05 * pitch) {
              sharedPairs += 1
              val rel = haversine(mine(v), theirs(wi)) / pitch
              if (rel > worstRel) worstRel = rel
            }
          }
        }
      }
      assert(sharedPairs > corners, // every interior corner matches twice
        s"res $res matched only $sharedPairs shared corner pairs")
      assert(worstRel < 1e-9,
        f"res $res worst shared-corner divergence $worstRel%.3e of pitch")
    }
  }

  test("gridPathCells (round 14): length = dist+1, endpoints exact, " +
      "consecutive cells adjacent, greedy choice is the min-id one") {
    val rnd = new scala.util.Random(114)
    var checked = 0
    for (res <- Seq(2, 5, 9); trial <- 1 to 40) {
      val lat = rnd.nextDouble() * 140 - 70
      val lng = rnd.nextDouble() * 360 - 180
      val a = H3.latLngToCell(lat, lng, res)
      // random same-res partner a few rings out (stay in gridDistance's
      // domain; skip pairs its BFS cap / pentagon guard rejects —
      // h3lib's gridPathCells fails on exactly those too)
      val disk = H3.gridDisk(a, 1 + rnd.nextInt(4))
      val b = disk(rnd.nextInt(disk.length))
      val d =
        try H3.gridDistance(a, b)
        catch { case _: IllegalArgumentException => -1 }
      if (d >= 0) {
        val path = H3.gridPathCells(a, b)
        assert(path.length === d + 1, s"path length for dist $d")
        assert(path.head === a && path.last === b, "endpoints")
        for (i <- 0 until path.length - 1) {
          assert(H3.gridDistance(path(i), path(i + 1)) === 1,
            s"step $i not adjacent")
          assert(H3.gridDistance(path(i + 1), b) === d - i - 1,
            s"step ${i + 1} not on a shortest path")
          // canonicality: the chosen next cell is the minimal id among
          // ALL distance-reducing neighbors (brute-force restatement)
          val cands = H3.gridRing1(path(i)).filter { c =>
            (try H3.gridDistance(c, b) catch {
              case _: IllegalArgumentException => -1
            }) == d - i - 1
          }
          assert(cands.nonEmpty && path(i + 1) === cands.min,
            s"step ${i + 1} not the canonical min-id choice")
        }
        checked += 1
      }
    }
    assert(checked > 60, s"only $checked pairs exercised")
  }

  test("cellToBoundary corner canonicity, sampled res 3-4 near " +
      "icosahedron vertices (round 14, closing the res>=3 advice)") {
    // The round-13 ADVICE flagged that canonicity was exhaustively
    // pinned only at res 0-2, with res >= 3 ownership decided by float
    // nearestFace ties. Round 14's substrate mapping decides ownership
    // by EXACT integer sidedness, and this pass pins the law where the
    // old fallbacks clustered: every res-3/4 descendant of the 12
    // pentagon base cells (the cells hugging icosahedron vertices) plus
    // each one's ring-1, shared corners bit-compared across all
    // generating cells.
    for (res <- 3 to 4) {
      val seeds = (0 until 122).filter { bc =>
        val b = (1L << 59) | (bc.toLong << 45) | ((1L << 45) - 1)
        H3.isPentagonCell(b)
      }.flatMap { bc =>
        val b = (1L << 59) | (bc.toLong << 45) | ((1L << 45) - 1)
        H3.cellToChildren(b, res).toSeq
      }
      val cells = (seeds ++ seeds.flatMap(H3.gridRing1)).distinct
        .filterNot(H3.isPentagonCell)
      assert(cells.size > 500, s"res $res sample too small: ${cells.size}")
      val bnd = scala.collection.mutable.Map
        .empty[Long, Array[(Double, Double)]]
      def get(h: Long) = bnd.getOrElseUpdate(h, H3.cellToBoundary(h))
      var shared = 0
      for (h <- cells) {
        val mine = get(h)
        val ring = H3.gridRing1(h).filterNot(H3.isPentagonCell)
          .filter(n => cells.contains(n))
        val pitch = if (ring.nonEmpty)
          haversine(H3.cellToLatLng(h), H3.cellToLatLng(ring.head)) else 0.0
        for (n <- ring; theirs = get(n); v <- 0 until 6; w <- 0 until 6) {
          val d = haversine(mine(v), theirs(w))
          if (d < 0.05 * pitch) {
            shared += 1
            // bit-canonical: same owning chart, same integers, same bits
            assert(mine(v) === theirs(w),
              s"res $res corner not bit-canonical: ${h.toHexString} v$v " +
                s"vs ${n.toHexString} w$w (${mine(v)} vs ${theirs(w)})")
          }
        }
      }
      assert(shared > cells.size, s"res $res matched only $shared corners")
    }
  }

  test("cellToBoundaryFull (round 13): distortion vertices sit exactly " +
      "on the edge great circle AND the face boundary, between their " +
      "corners; faces change only at inserted vertices; straddle-free " +
      "cells are identical to the plain form") {
    def unit(p: (Double, Double)): Array[Double] = {
      val la = math.toRadians(p._1); val lo = math.toRadians(p._2)
      Array(math.cos(la) * math.cos(lo), math.cos(la) * math.sin(lo),
        math.sin(la))
    }
    def cross(a: Array[Double], b: Array[Double]) =
      Array(a(1) * b(2) - a(2) * b(1), a(2) * b(0) - a(0) * b(2),
        a(0) * b(1) - a(1) * b(0))
    def dot(a: Array[Double], b: Array[Double]) =
      a(0) * b(0) + a(1) * b(1) + a(2) * b(2)
    def norm(a: Array[Double]) = {
      val l = math.sqrt(dot(a, a)); Array(a(0) / l, a(1) / l, a(2) / l)
    }
    def slerp(a: Array[Double], b: Array[Double], t: Double) = {
      val o = math.acos(math.max(-1.0, math.min(1.0, dot(a, b))))
      val sa = math.sin((1 - t) * o) / math.sin(o)
      val sb = math.sin(t * o) / math.sin(o)
      norm(Array(sa * a(0) + sb * b(0), sa * a(1) + sb * b(1),
        sa * a(2) + sb * b(2)))
    }
    def faceOf(v: Array[Double]): Int = {
      val lat = math.toDegrees(math.asin(math.max(-1.0, math.min(1.0, v(2)))))
      val lng = math.toDegrees(math.atan2(v(1), v(0)))
      H3.faceOfPoint(lat, lng)
    }
    var straddling = 0
    var inserted = 0
    var identical = 0
    for (res <- 0 to 2) {
      val cells = (0 until 122).flatMap { bc =>
        val b = (1L << 59) | (bc.toLong << 45) | ((1L << 45) - 1)
        if (res == 0) Seq(b) else H3.cellToChildren(b, res).toSeq
      }
      for (h <- cells) {
        val plain = H3.cellToBoundary(h)
        val (full, marks) = H3.cellToBoundaryFullMarked(h)
        // the true corners survive verbatim, in ring order
        assert(full.zip(marks).filter(!_._2).map(_._1).toSeq
          === plain.toSeq, s"corners not preserved for ${h.toHexString}")
        val nFull = full.length
        val us = full.map(unit)
        if (!marks.exists(identity)) {
          assert(nFull === plain.length)
          identical += 1
        } else {
          straddling += 1
          for (i <- 0 until nFull if marks(i)) {
            inserted += 1
            // surrounding TRUE corners (insertions never wrap a corner)
            var pi = (i - 1 + nFull) % nFull
            while (marks(pi)) pi = (pi - 1 + nFull) % nFull
            var qi = (i + 1) % nFull
            while (marks(qi)) qi = (qi + 1) % nFull
            val p = us(pi); val q = us(qi); val x = us(i)
            // exactly on the corner pair's great circle
            val gc = norm(cross(p, q))
            assert(math.abs(dot(gc, x)) < 1e-12,
              s"${h.toHexString} v$i off the edge great circle")
            // strictly between its corners (arc angles add up)
            val o = math.acos(math.max(-1.0, math.min(1.0, dot(p, q))))
            val o1 = math.acos(math.max(-1.0, math.min(1.0, dot(p, x))))
            val o2 = math.acos(math.max(-1.0, math.min(1.0, dot(x, q))))
            assert(math.abs(o1 + o2 - o) < 1e-9 && o1 > 1e-12 &&
              o2 > 1e-12, s"${h.toHexString} v$i not between its corners")
            // exactly on the face boundary it separates: the faces a
            // hair before/after along the ring differ, and V sits on
            // their bisector plane to float precision
            val before = faceOf(slerp(us((i - 1 + nFull) % nFull), x,
              1.0 - 1e-7))
            val after = faceOf(slerp(x, us((i + 1) % nFull), 1e-7))
            assert(before !== after,
              s"${h.toHexString} v$i does not separate two faces")
            val cA = H3.faceCenter(before); val cB = H3.faceCenter(after)
            assert(math.abs(dot(x, Array(cA(0) - cB(0), cA(1) - cB(1),
              cA(2) - cB(2)))) < 1e-12,
              s"${h.toHexString} v$i off the face bisector")
          }
          // faces change ONLY at inserted vertices: every segment
          // between consecutive full-ring vertices is face-constant at
          // sampled interior points — UNLESS the segment runs ALONG a
          // face boundary (res-0 edges on icosahedron edges), where
          // face identity is float noise; there, every sample must sit
          // ON the bisector of the observed face pair instead
          for (i <- 0 until nFull) {
            val a = us(i); val b = us((i + 1) % nFull)
            val samples = (1 to 9).map(k => slerp(a, b, k / 10.0))
            val faces = samples.map(faceOf).distinct
            if (faces.length > 1) {
              assert(faces.length === 2,
                s"${h.toHexString} segment $i spans ${faces.length} faces")
              val cA = H3.faceCenter(faces(0))
              val cB = H3.faceCenter(faces(1))
              val nrm = Array(cA(0) - cB(0), cA(1) - cB(1), cA(2) - cB(2))
              samples.foreach { sPt =>
                assert(math.abs(dot(sPt, nrm)) < 1e-12,
                  s"${h.toHexString} segment $i changes face mid-segment " +
                    "while not along the boundary")
              }
            }
          }
        }
      }
    }
    assert(straddling > 0 && identical > straddling &&
      inserted >= straddling,
      s"implausible counts: straddling=$straddling identical=$identical " +
        s"inserted=$inserted")
  }

  test("pentagon corners adopt the flanking hexagons' per-face-exact " +
      "corners (round 13): bit-level agreement with BOTH flanks, " +
      "residual spherical-centroid corners enumerated") {
    // Every pentagon corner is shared with two ring-1 hexagons, whose
    // corners are computed in the corner's owning chart — so the
    // pentagon's adopted corner must appear (to ~ulp, chordal 1e-12) in
    // BOTH flanks' corner sets, and no corner is left on the
    // spherical-centroid skeleton at res 0-3.
    def unit(la: Double, lo: Double) = {
      val p = math.toRadians(la); val q = math.toRadians(lo)
      Array(math.cos(p) * math.cos(q), math.cos(p) * math.sin(q),
        math.sin(p))
    }
    for (res <- 0 to 3) {
      var adopted = 0; var approx = 0; var inBoth = 0
      val pents = (0 until 122).filter { bc =>
        val b = (1L << 59) | (bc.toLong << 45) | ((1L << 45) - 1)
        H3.isPentagonCell(b)
      }.map { bc =>
        (1L << 59) | (res.toLong << 52) | (bc.toLong << 45) |
          ((1L << (3 * (15 - res))) - 1)
      }
      assert(pents.length === 12)
      for (h <- pents) {
        val corners = H3.cellToBoundary(h)
        assert(corners.length === 5)
        val flanks = H3.gridRing1(h).map(H3.cellToBoundary)
        for (c <- corners) {
          val cu = unit(c._1, c._2)
          var hits = 0
          flanks.foreach { fc =>
            fc.foreach { w =>
              val u = unit(w._1, w._2)
              val d2 = (u(0) - cu(0)) * (u(0) - cu(0)) +
                (u(1) - cu(1)) * (u(1) - cu(1)) +
                (u(2) - cu(2)) * (u(2) - cu(2))
              if (d2 < 1e-24) hits += 1
            }
          }
          if (hits >= 1) adopted += 1 else approx += 1
          if (hits >= 2) inBoth += 1
        }
      }
      assert(approx === 0,
        s"res $res: $approx skeleton corners (adopted $adopted)")
      assert(inBoth === adopted,
        s"res $res: an adopted corner matched only ONE flank " +
          s"($inBoth of $adopted) — flank charts disagree")
    }
  }

  test("cellToBoundary: pentagons have 5 corners at uniform radius") {
    for ((_, plat, plng) <- H3.pentagonCenters.take(4); res <- Seq(1, 4)) {
      val h = H3.latLngToCell(plat, plng, res)
      if (H3.isPentagon(h)) {
        val b = H3.cellToBoundary(h)
        assert(b.length === 5)
        val c = H3.cellToLatLng(h)
        val rads = b.map(haversine(c, _))
        val mean = rads.sum / 5
        assert(rads.forall(r => math.abs(r - mean) < 0.15 * mean),
          s"pentagon corner radii: ${rads.toList}")
      }
    }
  }

  test("cellBoundaryWkt parses through the engine's WKT surface and " +
      "its centroid re-indexes to the same cell") {
    val rnd = new scala.util.Random(808L)
    for (_ <- 1 to 40) {
      val lat = math.toDegrees(math.asin(rnd.nextDouble() * 2 - 1))
      val lng = rnd.nextDouble() * 360.0 - 180.0
      val res = 4 + rnd.nextInt(6)
      val hex = H3.latLngToCellString(lat, lng, res)
      val wkt = H3.cellBoundaryWkt(hex)
      assert(wkt.startsWith("POLYGON(("))
      // an antimeridian-straddling ring has lng values jumping ~360,
      // so its PLANAR centroid is meaningless — skip, same guard as
      // the forward-index boundary test (round-12 ADVICE: this was a
      // small per-run flake probability)
      val lngs = H3.cellToBoundary(
        java.lang.Long.parseUnsignedLong(hex, 16)).map(_._2)
      if (lngs.max - lngs.min < 90.0) {
        val Some((cx, cy)) = graft.functions.GeoF.wktCentroid(wkt)
        assert(H3.latLngToCellString(cy, cx, res) === hex,
          s"boundary centroid left the cell: $hex")
      }
    }
  }

  test("regression pin: base cell stable across resolutions at city points") {
    // NOT a general H3 invariant (aperture-7 children overflow their
    // parent, so near res-0 edges the base-cell FIELD may vary with
    // resolution) — but it holds for these interior points and pins the
    // digit pipeline against regressions
    val pts = Seq((40.7128, -74.006), (51.5074, -0.1278), (-33.8688, 151.2093),
      (35.6762, 139.6503), (-1.2921, 36.8219))
    for ((lat, lng) <- pts) {
      val bcs = (0 to 15).map(r => H3.getBaseCell(H3.latLngToCell(lat, lng, r)))
      assert(bcs.distinct.size === 1, s"base cell drift at ($lat,$lng): $bcs")
    }
  }
}

object H3Spec {
  import H3._

  /** Count of HEXAGON cross-chart assembly disagreements at `res` (the
    * cross-chart law; must be 0): a hexagon assembled in one chart must
    * assemble to the same cell through the edge isometry (a pentagon on
    * the other side counts as a disagreement). Pentagon-base-cell ids on
    * the home side are excluded: their digit strings live in the
    * 5-sector quotient where the plain hexagonal isometry does not apply
    * across the deleted axis ([[pentIsoOrbitStats]] checks them). */
  def countHexIsoMismatches(res: Int): Int = {
    var mis = 0
    val lim = TriW(res).map(w => math.max(math.abs(w._1), math.abs(w._2))).max + 4
    for (f <- 0 until 20; e <- 0 until 3) {
      val g = EdgeFace(f)(e)
      val c = EdgeRot(f)(e)(res)
      var a = -lim
      while (a <= lim) {
        var b = -lim
        while (b <= lim) {
          val hF = assembleFromChart(f, a, b, res)
          if (hF >= 0 && !IsPent(getBaseCell(hF))) {
            var xa = a; var xb = b
            var n = 0
            while (n < c) { val t = xa - xb; xb = xa; xa = t; n += 1 }
            xa += EdgeTA(f)(e)(res)
            xb += EdgeTB(f)(e)(res)
            val hG = assembleFromChart(g, xa, xb, res)
            if (hG >= 0 && hF != hG) mis += 1
          }
          b += 1
        }
        a += 1
      }
    }
    mis
  }

  /** Pentagon-quotient consistency stats (the deleted-axis analogue of
    * [[countHexIsoMismatches]]): for every face edge and every coordinate
    * X where BOTH charts assemble and the home chart's cell is a
    * pentagon, the two canonical labels must lie in one order-5
    * pentagon-rotation orbit (so in particular share the base cell — a
    * cross-chart base-cell disagreement counts as out of orbit), and the
    * orbit step must be the same for every such coordinate of that
    * (face, edge, baseCell) — the hexagonal edge isometry is off by
    * exactly the vertex's curvature defect inside the pentagon's 5-sector
    * quotient, a CONSTANT per unfolding, never a coordinate-dependent
    * scramble. Returns (pairsChecked, outOfOrbitCount,
    * stepsPerEdgePentagon). */
  def pentIsoOrbitStats(res: Int)
      : (Int, Int, Map[(Int, Int, Int), Set[Int]]) = {
    var pairs = 0
    var outOfOrbit = 0
    val steps = scala.collection.mutable.Map
      .empty[(Int, Int, Int), Set[Int]]
    val lim = TriW(res).map(w => math.max(math.abs(w._1), math.abs(w._2))).max + 4
    for (f <- 0 until 20; e <- 0 until 3) {
      val g = EdgeFace(f)(e)
      val c = EdgeRot(f)(e)(res)
      var a = -lim
      while (a <= lim) {
        var b = -lim
        while (b <= lim) {
          val hF = assembleFromChart(f, a, b, res)
          if (hF >= 0 && IsPent(getBaseCell(hF))) {
            var xa = a; var xb = b
            var n = 0
            while (n < c) { val t = xa - xb; xb = xa; xa = t; n += 1 }
            xa += EdgeTA(f)(e)(res)
            xb += EdgeTB(f)(e)(res)
            val hG = assembleFromChart(g, xa, xb, res)
            if (hG >= 0) {
              pairs += 1
              var k = 0
              var cur = hF
              var found = -1
              while (k < 5) {
                if (cur == hG && found < 0) found = k
                cur = rotatePent60ccw(cur)
                k += 1
              }
              if (found < 0) outOfOrbit += 1
              else {
                val key = (f, e, getBaseCell(hF))
                steps(key) = steps.getOrElse(key, Set.empty) + found
              }
            }
          }
          b += 1
        }
        a += 1
      }
    }
    (pairs, outOfOrbit, steps.toMap)
  }
}
