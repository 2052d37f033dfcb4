package graft.functions

import graft.SparkSpec

class GeoFSpec extends SparkSpec {

  test("centroid of a unit square is its center (exact)") {
    val w = "POLYGON((0 0, 1 0, 1 1, 0 1, 0 0))"
    assert(GeoF.wktCentroid(w) === Some((0.5, 0.5)))
  }

  test("centroid subtracts holes by signed area") {
    // 4×4 square centered at (2,2) with a 2×2 hole centered at (1,1):
    // centroid moves away from the hole: ((16·2 − 4·1)/12, same) = (7/3, 7/3)
    val w = "POLYGON((0 0, 4 0, 4 4, 0 4, 0 0), (0 0, 0 2, 2 2, 2 0, 0 0))"
    val Some((x, y)) = GeoF.wktCentroid(w)
    assert(math.abs(x - 7.0 / 3.0) < 1e-12)
    assert(math.abs(y - 7.0 / 3.0) < 1e-12)
  }

  test("multipolygon weights parts by area") {
    // unit square at origin (area 1) + 2×2 square at (10,0)..(12,2) (area 4)
    // centroid = (0.5·1 + 11·4)/5 = 8.9, (0.5·1 + 1·4)/5 = 0.9
    val w = "MULTIPOLYGON(((0 0, 1 0, 1 1, 0 1, 0 0)), ((10 0, 12 0, 12 2, 10 2, 10 0)))"
    val Some((x, y)) = GeoF.wktCentroid(w)
    assert(math.abs(x - 8.9) < 1e-12)
    assert(math.abs(y - 0.9) < 1e-12)
  }

  test("POINT centroid is the point; garbage/degenerate → None") {
    assert(GeoF.wktCentroid("POINT(3.5 -2.25)") === Some((3.5, -2.25)))
    assert(GeoF.wktCentroid(null) === None)
    assert(GeoF.wktCentroid("LINESTRING(0 0, 1 1)") === None)
    assert(GeoF.wktCentroid("POLYGON((0 0, 1 0, 0 0))") === None) // zero area
  }

  // ------------------- spherical centroid (BigQuery semantics) -----------

  test("spherical centroid: lat-band rectangle matches the closed form") {
    // Region bounded by parallels φ∈[20°,40°] and meridians λ∈[−10°,10°].
    // Closed form of ∫_S r dA with r=(cosφcosλ, cosφsinλ, sinφ),
    // dA=cosφ dφ dλ:
    //   x = 2 sin λ0 · [(φ + sinφcosφ)/2]  over [φ1,φ2]
    //   z = 2 λ0 · (sin²φ2 − sin²φ1)/2
    // → centroid lat = atan2(z, x), lng = 0 by symmetry. The WKT edges
    // are great circles, so the parallel edges are densified to 2000
    // segments (sagitta error ≪ 1e-9 rad).
    val (phi1, phi2, lam0) =
      (math.toRadians(20), math.toRadians(40), math.toRadians(10))
    def f(phi: Double) = (phi + math.sin(phi) * math.cos(phi)) / 2.0
    val x = 2 * math.sin(lam0) * (f(phi2) - f(phi1))
    val z = lam0 * (math.pow(math.sin(phi2), 2) - math.pow(math.sin(phi1), 2))
    val wantLat = math.toDegrees(math.atan2(z, x))

    val n = 2000
    val south = (0 to n).map(i => s"${-10.0 + 20.0 * i / n} 20.0")
    val north = (0 to n).map(i => s"${10.0 - 20.0 * i / n} 40.0")
    val wkt = "POLYGON((" + (south ++ north :+ south.head).mkString(", ") + "))"
    val Some((lng, lat)) = GeoF.wktCentroidSpherical(wkt)
    assert(math.abs(lng) < 1e-9, s"symmetric band must center on lng 0: $lng")
    assert(math.abs(lat - wantLat) < 1e-6, s"lat $lat, closed form $wantLat")
    // and the spherical lat must sit BELOW the planar one (cosφ down-
    // weights the high-latitude area the planar shoelace counts fully)
    val Some((_, platLat)) = GeoF.wktCentroid(wkt)
    assert(lat < platLat)
  }

  test("spherical centroid: equator-symmetric polygon centers at (0,0)") {
    val w = "POLYGON((-10 -10, 10 -10, 10 10, -10 10, -10 -10))"
    val Some((lng, lat)) = GeoF.wktCentroidSpherical(w)
    assert(math.abs(lng) < 1e-12 && math.abs(lat) < 1e-12)
  }

  test("spherical centroid: POINT passes through; garbage → None") {
    assert(GeoF.wktCentroidSpherical("POINT(3.5 -2.25)") === Some((3.5, -2.25)))
    assert(GeoF.wktCentroidSpherical(null) === None)
    assert(GeoF.wktCentroidSpherical("LINESTRING(0 0, 1 1)") === None)
  }

  test("spherical centroid: holes subtract (spherical square with hole)") {
    // same shape as the planar hole test but on the sphere at equatorial
    // extents where planar≈spherical: the two must agree to ~1e-5°
    val w = "POLYGON((0 0, 4 0, 4 4, 0 4, 0 0), (0 0, 0 2, 2 2, 2 0, 0 0))"
    val Some((px, py)) = GeoF.wktCentroid(w)
    val Some((sx, sy)) = GeoF.wktCentroidSpherical(w)
    assert(math.abs(px - sx) < 2e-3 && math.abs(py - sy) < 2e-3)
  }

  test("spherical centroid: winding-agnostic (CW outer ring, ESRI style)") {
    // Round-9 advice: the Stokes edge-sum flips sign under a CW-wound
    // outer ring — without normalization the result is ANTIPODAL. The
    // planar path is winding-agnostic (signed-area division), and
    // BigQuery on unoriented WKT takes the smaller region; the vertex-
    // hemisphere flip must make the spherical path agree for all three
    // winding conventions on sub-hemisphere input.
    val ccw = "POLYGON((0 20, 10 20, 10 40, 0 40, 0 20))"
    val cw  = "POLYGON((0 20, 0 40, 10 40, 10 20, 0 20))" // reversed
    val Some((x1, y1)) = GeoF.wktCentroidSpherical(ccw)
    val Some((x2, y2)) = GeoF.wktCentroidSpherical(cw)
    assert(math.abs(x1 - x2) < 1e-12 && math.abs(y1 - y2) < 1e-12,
      s"CW ring diverged: ($x1,$y1) vs ($x2,$y2)")
    assert(y1 > 20 && y1 < 40 && x1 > 0 && x1 < 10, s"not in region: ($x1,$y1)")

    // mixed/flipped hole conventions: CCW outer + CW hole (canonical),
    // CW outer + CCW hole (wholesale-reversed shapefile) — identical.
    val canonical =
      "POLYGON((0 0, 8 0, 8 8, 0 8, 0 0), (1 1, 1 3, 3 3, 3 1, 1 1))"
    val reversed =
      "POLYGON((0 0, 0 8, 8 8, 8 0, 0 0), (1 1, 3 1, 3 3, 1 3, 1 1))"
    val Some((cx1, cy1)) = GeoF.wktCentroidSpherical(canonical)
    val Some((cx2, cy2)) = GeoF.wktCentroidSpherical(reversed)
    assert(math.abs(cx1 - cx2) < 1e-12 && math.abs(cy1 - cy2) < 1e-12)
    // hole pulls the centroid away from the (1..3,1..3) corner
    assert(cx1 > 4.0 && cy1 > 4.0)
  }

  test("planar vs spherical at NYC taxi-zone extents: measure res-9 flips") {
    // The engine's default centroid is planar (documented divergence,
    // SURVEY §7.4); BigQuery's is spherical. This measures the practical
    // consequence on zone-sized geometry: synthetic NYC-extent zones
    // (seeded, irregular 16-gons, 300 m – 3 km radius — the real zones'
    // range), centroid via both models, H3 res-9 cell of each, count
    // disagreements. The spherical option ships for exact BigQuery
    // parity; the flip rate recorded here (and in PLANS.md) is the
    // residual risk of the planar default.
    val rnd = new scala.util.Random(20260814)
    val nZones = 260
    var flips = 0
    var maxShiftM = 0.0
    (1 to nZones).foreach { _ =>
      val cLat = 40.50 + rnd.nextDouble() * 0.42
      val cLng = -74.26 + rnd.nextDouble() * 0.56
      val rM = 300.0 + rnd.nextDouble() * 2700.0
      val pts = (0 until 16).map { k =>
        val ang = 2 * math.Pi * k / 16
        val r = rM * (0.6 + 0.8 * rnd.nextDouble()) // irregular boundary
        val dLat = r * math.sin(ang) / 111194.9
        val dLng = r * math.cos(ang) / (111194.9 * math.cos(math.toRadians(cLat)))
        s"${cLng + dLng} ${cLat + dLat}"
      }
      val wkt = "POLYGON((" + (pts :+ pts.head).mkString(", ") + "))"
      val Some((plng, plat)) = GeoF.wktCentroid(wkt)
      val Some((slng, slat)) = GeoF.wktCentroidSpherical(wkt)
      val shiftM = math.hypot((plat - slat) * 111194.9,
        (plng - slng) * 111194.9 * math.cos(math.toRadians(plat)))
      maxShiftM = math.max(maxShiftM, shiftM)
      if (H3.latLngToCell(plat, plng, 9) != H3.latLngToCell(slat, slng, 9))
        flips += 1
    }
    info(f"res-9 flips: $flips/$nZones, max centroid shift $maxShiftM%.3f m")
    // zone-extent planar/spherical drift is sub-meter; against a 174 m
    // res-9 edge the flip rate must stay in single digits of zones
    assert(maxShiftM < 5.0, f"unexpectedly large drift: $maxShiftM%.3f m")
    assert(flips <= nZones / 20, s"flip rate too high: $flips/$nZones")
  }

  test("Column spherical centroid matches the Scala path (codegen)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val w = "POLYGON((-74.02 40.70, -73.98 40.70, -73.98 40.73, " +
      "-74.02 40.73, -74.02 40.70))"
    val row = Seq(w).toDF("geom")
      .select(GeoF.centroidSphLng(col("geom")).as("lng"),
        GeoF.centroidSphLat(col("geom")).as("lat")).head()
    val Some((lng, lat)) = GeoF.wktCentroidSpherical(w)
    assert(row.getDouble(0) === lng && row.getDouble(1) === lat)
    // and the SQL registration
    val viaSql = spark.sql(
      s"SELECT wkt_centroid_sph_lng('$w') AS lng, " +
        s"wkt_centroid_sph_lat('$w') AS lat").head()
    assert(viaSql.getDouble(0) === lng && viaSql.getDouble(1) === lat)
  }

  test("h3 polyfill: soundness, completeness, holes, empty, column parity") {
    import org.apache.spark.sql.functions._
    // 0.5-degree fixture-zone square at a representative location
    def sq(cx: Double, cy: Double, h: Double): String = {
      val (a, b, c, d) = (cx - h, cx + h, cy - h, cy + h)
      s"POLYGON(($a $c, $b $c, $b $d, $a $d, $a $c))"
    }
    val wkt = sq(4.5, -2.5, 0.25)
    val cells = GeoF.h3PolyfillScala(wkt, 5)
    val rings = GeoF.parseRings(wkt)
    // structural count: a 0.5-degree square at res 5 (pitch ~0.163 deg,
    // hex area ~0.023 deg^2) holds ~8-20 centers
    assert(cells.length >= 8 && cells.length <= 20, s"${cells.length} cells")
    assert(cells.toSeq === cells.toSeq.sorted && cells.distinct.length === cells.length)
    // soundness: every returned center is inside; completeness: any
    // ring-1 neighbor with an inside center is also returned
    val set = cells.toSet
    cells.foreach { id =>
      val (la, lo) = H3.cellToLatLng(id)
      assert(GeoF.pointInRings(lo, la, rings), s"center of $id outside")
      H3.gridRing1(java.lang.Long.parseUnsignedLong(id, 16)).foreach { nb =>
        val (nla, nlo) = H3.cellToLatLng(nb)
        if (GeoF.pointInRings(nlo, nla, rings))
          assert(set.contains(f"$nb%x"), f"missing inside neighbor $nb%x")
      }
    }
    // area sanity: count * hex area ~ square area (planar, cos-corrected)
    val pitch = math.toDegrees(0.3695 / math.pow(math.sqrt(7.0), 5))
    val hexArea = math.sqrt(3.0) / 2.0 * pitch * pitch * math.cos(math.toRadians(-2.5))
    val sqArea = 0.5 * 0.5 * math.cos(math.toRadians(-2.5))
    assert(math.abs(cells.length * hexArea - sqArea) / sqArea < 0.25,
      s"${cells.length} cells x $hexArea vs $sqArea")
    // holes: a hole that covers the center of the square removes cells
    val holed = s"POLYGON((4.25 -2.75, 4.75 -2.75, 4.75 -2.25, 4.25 -2.25, 4.25 -2.75), " +
      s"(4.4 -2.6, 4.6 -2.6, 4.6 -2.4, 4.4 -2.4, 4.4 -2.6))"
    val holedCells = GeoF.h3PolyfillScala(holed, 5).toSet
    assert(holedCells.subsetOf(set) && holedCells.size < cells.length)
    val holeRings = GeoF.parseRings(holed)
    holedCells.foreach { id =>
      val (la, lo) = H3.cellToLatLng(id)
      assert(GeoF.pointInRings(lo, la, holeRings))
    }
    // a polygon too small to contain any center yields empty (H3
    // center-containment semantics), and non-polygon input is empty
    assert(GeoF.h3PolyfillScala(sq(4.5, -2.5, 1e-4), 5).isEmpty)
    assert(GeoF.h3PolyfillScala("POINT(1 2)", 5).isEmpty)
    // column expression parity with the Scala path, via codegen
    import spark.implicits._
    val fromCol = Seq(wkt).toDF("g")
      .select(GeoF.h3Polyfill(col("g"), 5).as("cells"))
      .as[Seq[String]].head()
    assert(fromCol === cells.toSeq)
  }

  test("polyfill oracle margin: every fixture candidate center sits " +
    ">= 3e-5 deg from its zone boundary (H3OracleSql.polyfill relies " +
    "on 6.2e-6 deg localization)") {
    // The x_h3_polyfill DuckDB oracle classifies center-in-square after
    // localizing each center to <= 6.2e-6 deg (res-15 center-chain
    // witnesses). That is exact iff no candidate center lies within the
    // localization error of a zone edge. Measured worst margin: 4.3e-5
    // (zone 24). Pin >= 3e-5 — 5x the oracle error, under the measured
    // value — so a fixture or polyfill change that erodes the margin
    // fails HERE with a message, not as an opaque gate hash mismatch.
    var worst = Double.MaxValue
    for (k <- 0 until 25) {
      val lat0 = k * 0.5 - 6.0; val lng0 = k * 1.5 - 18.0
      val wkt = s"POLYGON((${lng0 - 0.25} ${lat0 - 0.25}, " +
        s"${lng0 + 0.25} ${lat0 - 0.25}, ${lng0 + 0.25} ${lat0 + 0.25}, " +
        s"${lng0 - 0.25} ${lat0 + 0.25}, ${lng0 - 0.25} ${lat0 - 0.25}))"
      val cand = GeoF.h3PolyfillScala(wkt, 5)
        .flatMap(h => H3.gridDisk(java.lang.Long.parseLong(h, 16), 1))
        .distinct
      for (c <- cand) {
        val (clat, clng) = H3.cellToLatLng(c)
        val m = Seq(
          math.abs(clat - (lat0 - 0.25)), math.abs(clat - (lat0 + 0.25)),
          math.abs(clng - (lng0 - 0.25)), math.abs(clng - (lng0 + 0.25))
        ).min
        if (m < worst) worst = m
      }
    }
    assert(worst >= 3e-5, f"polyfill oracle margin eroded: $worst%.2e")
  }

  test("boundary oracle closure: every fixture cell's WKT-boundary " +
    "planar centroid re-indexes onto the digit-0 chain at res >= 9") {
    // x_h3_boundary's oracle states cell_back9 = the res-9 center-chain
    // descendant; measured closure depth is 11 for all 25 zones, so
    // res 9 carries ~50x margin. Pin the depth here with the engine's
    // OWN WKT centroid (the exact expression the query runs).
    for (k <- 0 until 25) {
      val c = H3.latLngToCell(k * 0.5 - 6.0, k * 1.5 - 18.0, 5)
      val wkt = H3.cellToBoundary(c)
        .map { case (la, lo) => s"$lo $la" } match {
        case pts => s"POLYGON((${(pts :+ pts.head).mkString(", ")}))"
      }
      val w = org.apache.spark.unsafe.types.UTF8String.fromString(wkt)
      val clat = GeoF.centroidLatUtf8(w)
      val clng = GeoF.centroidLngUtf8(w)
      var chain = (c & ~(15L << 52)) | (9L << 52)
      for (d <- 6 to 9) chain &= ~(7L << ((15 - d) * 3))
      assert(H3.latLngToCell(clat, clng, 9) == chain,
        s"zone $k boundary centroid left the res-9 center chain")
    }
  }
}
