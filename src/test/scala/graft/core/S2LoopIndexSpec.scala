package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** The lazily built containment index of large loops answers exactly as
  * the brute-force crossing walk, which defines the semantics: on random
  * points, on every vertex, on every edge midpoint and on the centres of
  * the index's own cells. */
class S2LoopIndexSpec extends AnyFunSuite {

  /** Non-convex zigzag star around (lat, lng): the radius swings between
    * about 0.46× and 1.5× `radiusDeg`, with ±2 % radial jitter per vertex,
    * so at thousands of vertices the edges are mostly radial zigzags. */
  private def starPoints(lat: Double, lng: Double, radiusDeg: Double, n: Int,
                         rnd: scala.util.Random): Array[V3] = {
    val ph = Array.fill(3)(rnd.nextDouble() * 2 * math.Pi)
    val cosLat = math.cos(math.toRadians(lat))
    Array.tabulate(n) { i =>
      val t = 2 * math.Pi * i / n
      val r = radiusDeg * (1 + 0.3 * math.sin(3 * t + ph(0)) +
        0.15 * math.sin(7 * t + ph(1)) + 0.07 * math.sin(19 * t + ph(2))) *
        (1 + 0.04 * (rnd.nextDouble() - 0.5))
      V3.fromLatLngDegrees(lat + r * math.sin(t), lng + r * math.cos(t) / cosLat)
    }
  }

  private def star(lat: Double, lng: Double, radiusDeg: Double, n: Int,
                   seed: Long): S2Loop =
    S2Loop(starPoints(lat, lng, radiusDeg, n, new scala.util.Random(seed)))

  private def indexed(loop: S2Loop): S2LoopIndex = {
    val idx = loop.index
    assert(idx.isDefined, s"no index for a ${loop.numVertices}-vertex loop")
    idx.get
  }

  /** Random points around the loop, every vertex, every edge midpoint,
    * the index's cell centres and a few points anywhere on the sphere. */
  private def probes(loops: Seq[S2Loop], rnd: scala.util.Random): Seq[V3] = {
    val near = loops.flatMap { l =>
      val b = l.bound
      Seq.fill(500) {
        V3.fromLatLngRadians(b.lat.lo + rnd.nextDouble() * (b.lat.hi - b.lat.lo),
          b.lng.lo + rnd.nextDouble() * b.lng.length)
      }
    }
    val anywhere = Seq.fill(200) {
      V3(rnd.nextGaussian(), rnd.nextGaussian(), rnd.nextGaussian()).normalize
    }
    val onBoundary = loops.flatMap { l =>
      l.vertices.toSeq ++ (0 until l.numVertices).map(i => (l.vertex(i) + l.vertex(i + 1)).normalize)
    }
    near ++ anywhere ++ onBoundary ++ loops.flatMap(l => indexed(l).cellCenters)
  }

  private def checkLoop(loop: S2Loop, seed: Long): Unit = {
    val idx = indexed(loop)
    val bad = probes(Seq(loop), new scala.util.Random(seed)).filter { p =>
      val want = loop.bruteForceContains(p)
      idx.contains(p) != want || loop.contains(p) != want
    }
    assert(bad.isEmpty, s"${bad.size} mismatches on a ${loop.numVertices}-vertex loop, " +
      s"first at ${bad.headOption.map(p => (V3.latDegrees(p), V3.lngDegrees(p)))}")
  }

  test("zigzag stars of 32 to 16k vertices: indexed == brute force on every probe") {
    for ((n, seed) <- Seq(32 -> 1L, 64 -> 2L, 1024 -> 3L, 4096 -> 4L, 16384 -> 5L))
      checkLoop(star(10, 20, 3.0, n, seed), seed)
  }

  test("loops across face edges and corners, and with vertices on the face grid") {
    // lng 45 is the face 0 / face 1 edge; (35.26, 45) is a cube corner
    checkLoop(star(0, 45, 3.0, 2048, 11), 11)
    checkLoop(star(math.toDegrees(math.atan(1 / math.sqrt(2))), 45, 2.0, 2048, 12), 12)
    checkLoop(star(-89, 0, 3.0, 1024, 13), 13) // around a pole, six faces' corner zone
    // vertices exactly on a face centre (0:0) and on face edges (lng ±45)
    val grid = S2Loop((0 until 64).map { i =>
      val t = 2 * math.Pi * i / 64
      if (i == 0) V3(1, 0, 0)
      else if (i == 16) V3.fromLatLngDegrees(10, 45)
      else if (i == 48) V3.fromLatLngDegrees(-10, 45)
      else V3.fromLatLngDegrees(-5 + 20 * math.sin(t), 20 + 25 * math.cos(t))
    }.toArray)
    checkLoop(grid, 14)
    // a large loop covering most of the sphere (more than a hemisphere)
    checkLoop(S2Loop(starPoints(30, -60, 3.0, 512, new scala.util.Random(15)).reverse), 15)
  }

  test("multi-loop polygons with holes: S2Polygon.contains == brute-force parity") {
    val rnd = new scala.util.Random(21)
    val shell = star(-20, 130, 6.0, 4096, 22)
    val hole1 = star(-20, 130, 1.0, 1024, 23)
    val hole2 = star(-15, 133, 0.5, 64, 24)
    val island = star(-20, 130, 0.3, 40, 25) // inside hole1
    val other = star(40, -100, 2.0, 2048, 26)
    val loops = Seq(shell, hole1, hole2, island, other)
    val poly = new S2Polygon(loops.toArray)
    val bad = probes(loops, rnd).filter { p =>
      poly.contains(p) != (loops.count(_.bruteForceContains(p)) % 2 == 1)
    }
    assert(bad.isEmpty, s"${bad.size} polygon mismatches")
  }

  test("index is built on the 20th call of a 32+-vertex loop and is not serialized") {
    val small = star(0, 0, 1.0, S2Loop.MinVerticesForIndex - 1, 31)
    val loop = star(0, 0, 1.0, S2Loop.MinVerticesForIndex, 32)
    def serializedSize(o: AnyRef): Int = {
      val bytes = new java.io.ByteArrayOutputStream()
      val out = new java.io.ObjectOutputStream(bytes)
      out.writeObject(o); out.close()
      bytes.size
    }
    val before = serializedSize(loop)
    val p = V3.fromLatLngDegrees(0, 0)
    for (_ <- 1 until S2Loop.MaxUnindexedContainsCalls) { loop.contains(p); small.contains(p) }
    assert(!loop.indexBuilt)
    loop.contains(p); small.contains(p)
    assert(loop.indexBuilt && loop.index.isDefined)
    assert(small.index.isEmpty)
    assert(serializedSize(loop) == before)
    val copy = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream({
      val bytes = new java.io.ByteArrayOutputStream()
      val out = new java.io.ObjectOutputStream(bytes)
      out.writeObject(loop); out.close(); bytes.toByteArray
    })).readObject().asInstanceOf[S2Loop]
    assert(!copy.indexBuilt && copy.contains(p) == loop.contains(p))
  }

  test("bounded build: the kernel phase's 16k star indexes within budget") {
    // the same random stream as the benchmark's kernel phase: 4096 probe
    // points, then stars of 4, 64 and 1024 vertices each with 1024 probes
    val rnd = new scala.util.Random(20261017)
    for (_ <- 0 until 4096) { rnd.nextDouble(); rnd.nextDouble() }
    for (n <- Seq(4, 64, 1024)) {
      starPoints(10, 20, 3.0, n, rnd)
      for (_ <- 0 until 1024) { rnd.nextDouble(); rnd.nextDouble() }
    }
    val pts = starPoints(10, 20, 3.0, 16384, rnd)
    val probe = V3.fromLatLngDegrees(10.5, 20.5)
    val bruteNs = {
      val loop = S2Loop(pts)
      val times = (0 until 200).map { _ =>
        val t0 = System.nanoTime(); loop.bruteForceContains(probe); System.nanoTime() - t0
      }
      times.sorted.apply(times.size / 2).toDouble
    }
    val builds = (0 until 5).map { _ =>
      val loop = S2Loop(pts)
      val t0 = System.nanoTime()
      val idx = loop.index
      (System.nanoTime() - t0, idx)
    }
    val buildNs = builds.map(_._1).sorted.apply(builds.size / 2).toDouble
    val idx = builds.head._2
    assert(idx.isDefined, "16k star fell back to brute force")
    info(f"16k star: build ${buildNs / 1e6}%.1f ms = ${buildNs / bruteNs}%.0f× one " +
      f"brute-force contains (${bruteNs / 1e3}%.1f µs); ${idx.get.numCells} cells, " +
      f"${idx.get.numEdgeRefs} edge refs")
    assert(buildNs < 2e9, s"build took ${buildNs / 1e6} ms")
    assert(idx.get.numCells <= pts.length, s"${idx.get.numCells} cells")
    assert(idx.get.numEdgeRefs <= 16L * pts.length, s"${idx.get.numEdgeRefs} edge refs")
  }

  test("an edge in too many cells: the build gives up and brute force answers") {
    // a 10° straight edge out, then 16k tiny steps back along it, 1e-5°
    // away: the long edge crosses every fine cell the steps need
    val n = 16384
    val back = (0 until n).map { i =>
      val lng = 10.0 * (n - i) / n
      V3.fromLatLngDegrees(if (i % 2 == 0) 1e-5 else 2e-5, lng)
    }
    val loop = S2Loop((V3.fromLatLngDegrees(0, 0) +: back).toArray)
    val t0 = System.nanoTime()
    assert(loop.index.isEmpty)
    assert(System.nanoTime() - t0 < 5e9)
    val rnd = new scala.util.Random(41)
    for (_ <- 0 until 200) {
      val p = V3.fromLatLngDegrees(rnd.nextDouble() * 3e-5 - 5e-6, rnd.nextDouble() * 10)
      assert(loop.contains(p) == loop.bruteForceContains(p))
    }
  }
}
