package graft.core

/** Closed spherical loop with CCW-interior convention.
  *
  * Point containment is crossing parity under the reference's
  * edge-or-vertex rule. [[bruteForceContains]] walks every edge from a
  * fixed origin (reference s2loop.cc:605-617) and *defines* the
  * semantics. [[contains]] answers the same, bit for bit: loops with at
  * least [[S2Loop.MinVerticesForIndex]] (32) vertices build an
  * [[S2LoopIndex]] on their [[S2Loop.MaxUnindexedContainsCalls]]th (20th)
  * call and answer from it from then on (reference s2loop.cc:580-596).
  * The index is transient and shared by every thread using the loop; a
  * loop whose index would exceed its build cap keeps brute force.
  *
  * Empty loop = single vertex (0,0,1); full loop = single vertex
  * (0,0,-1). */
final class S2Loop private (val vertices: Array[V3],
                            val originInside: Boolean,
                            val bound: S2LatLngRect,
                            val subregionBound: S2LatLngRect) extends S2Region {
  import S2EdgeCrossings._

  def numVertices: Int = vertices.length
  @inline def vertex(i: Int): V3 =
    vertices(if (i >= vertices.length) i - vertices.length else i)

  def isEmptyOrFull: Boolean = numVertices == 1
  def isEmpty: Boolean = isEmptyOrFull && !originInside
  def isFull: Boolean = isEmptyOrFull && originInside

  /** The crossing-parity containment walk (reference s2loop.cc:605-617). */
  def bruteForceContains(p: V3): Boolean = {
    if (numVertices < 3) return originInside
    val crosser = new EdgeCrosser(Origin, p, vertex(0))
    var inside = originInside
    var i = 1
    while (i <= numVertices) {
      inside ^= crosser.edgeOrVertexCrossing(vertex(i))
      i += 1
    }
    inside
  }

  @transient @volatile private var containsIndex: Option[S2LoopIndex] = _
  // racy on purpose: a lost increment only delays the build by one call
  @transient @volatile private var unindexedCalls = 0

  override def contains(p: V3): Boolean = {
    if (!bound.contains(p)) return false
    if (numVertices < S2Loop.MinVerticesForIndex) return bruteForceContains(p)
    var idx = containsIndex
    if (idx == null) {
      unindexedCalls += 1
      if (unindexedCalls < S2Loop.MaxUnindexedContainsCalls) return bruteForceContains(p)
      idx = index
    }
    if (idx.isEmpty) bruteForceContains(p) else idx.get.contains(p)
  }

  private[core] def indexBuilt: Boolean = containsIndex != null

  /** The containment index, built on first use; None when the loop is
    * too small or its index would exceed the build cap. */
  private[core] def index: Option[S2LoopIndex] = {
    var idx = containsIndex
    if (idx == null) synchronized {
      idx = containsIndex
      if (idx == null) {
        idx = if (numVertices < S2Loop.MinVerticesForIndex) None else S2LoopIndex.build(this)
        containsIndex = idx
      }
    }
    idx
  }

  /** Signed area in [0, 4π); interior-CCW convention. */
  def area: Double = {
    if (isEmptyOrFull) return if (originInside) 4 * math.Pi else 0.0
    S2LoopMeasures.area(vertices)
  }

  def curvature: Double = {
    if (isEmptyOrFull) return if (originInside) -2 * math.Pi else 2 * math.Pi
    S2LoopMeasures.curvature(vertices)
  }

  // ---- cell relations for the coverer --------------------------------------
  /** Does any loop edge cross / touch any cell edge? (exact). */
  private def boundaryIntersects(cell: S2Cell): Boolean = {
    if (numVertices < 3) return false
    val cv = Array.tabulate(4)(cell.vertex)
    var k = 0
    while (k < 4) {
      val crosser = new EdgeCrosser(cv(k), cv((k + 1) & 3), vertex(0))
      var i = 1
      while (i <= numVertices) {
        if (crosser.crossingSign(vertex(i)) >= 0) return true
        i += 1
      }
      k += 1
    }
    false
  }

  override def containsCell(cell: S2Cell): Boolean = {
    if (isEmptyOrFull) return isFull
    if (!subregionBound.containsRect(cell.rectBound)) return false
    // Cell ⊆ loop iff a cell vertex is inside, the boundaries don't
    // cross, and the loop boundary doesn't dive into the cell.
    if (!contains(cell.vertex(0))) return false
    if (boundaryIntersects(cell)) return false
    // If any loop vertex is strictly inside the cell, the loop's exterior
    // boundary passes through the cell interior.
    var i = 0
    while (i < numVertices) {
      if (cell.containsPoint(vertices(i))) return false
      i += 1
    }
    true
  }

  override def mayIntersectCell(cell: S2Cell): Boolean = {
    if (isEmptyOrFull) return isFull
    if (!bound.intersectsRect(cell.rectBound)) return false
    if (contains(cell.center)) return true
    var i = 0
    while (i < numVertices) {
      if (cell.containsPoint(vertices(i))) return true
      i += 1
    }
    var k = 0
    while (k < 4) {
      if (contains(cell.vertex(k))) return true
      k += 1
    }
    boundaryIntersects(cell)
  }

  override def capBound: S2Cap = {
    if (isEmpty) return S2Cap.Empty
    if (isFull) return S2Cap.Full
    // Conservative: cap of the rect bound.
    bound.capBound
  }

  override def rectBound: S2LatLngRect = bound

  def invert: S2Loop = {
    if (isEmptyOrFull) {
      val v = if (isFull) S2Loop.EmptyVertex else S2Loop.FullVertex
      S2Loop(Array(v))
    } else S2Loop(vertices.reverse)
  }

  /** True if the loop area is at most 2π (covers at most half the
    * sphere). */
  def isNormalized: Boolean = {
    if (bound.lng.length < math.Pi) true
    else curvature >= 0
  }
}

object S2Loop {
  /** Smaller loops always use brute force (reference kMaxBruteForceVertices). */
  final val MinVerticesForIndex = 32
  /** Calls answered by brute force before the index is built (reference
    * kMaxUnindexedContainsCalls); one build costs many brute-force calls. */
  final val MaxUnindexedContainsCalls = 20

  val EmptyVertex: V3 = V3(0, 0, 1)
  val FullVertex: V3 = V3(0, 0, -1)

  def empty: S2Loop = apply(Array(EmptyVertex))
  def full: S2Loop = apply(Array(FullVertex))

  def apply(vertices: Array[V3]): S2Loop = {
    // Initialize originInside exactly as the reference does
    // (s2loop.cc:271-305): guess false, test vertex 1.
    var originInside = false
    if (vertices.length < 3) {
      originInside = vertices.length == 1 && vertices(0).z < 0
    } else {
      val v1Inside = vertices(0) != vertices(1) && vertices(2) != vertices(1) &&
        angleContainsVertex(vertices(0), vertices(1), vertices(2))
      val tmp = new S2Loop(vertices, false, S2LatLngRect.Full, S2LatLngRect.Full)
      if (v1Inside != tmp.bruteForceContains(vertices(1))) originInside = true
    }
    // Bound (s2loop.cc:330-352).
    var bound = S2LatLngRect.Empty
    if (vertices.length == 1) {
      bound = if (originInside) S2LatLngRect.Full else S2LatLngRect.Empty
    } else {
      val bounder = new S2LatLngRectBounder
      var i = 0
      while (i <= vertices.length) {
        bounder.addPoint(vertices(if (i == vertices.length) 0 else i))
        i += 1
      }
      var b = bounder.getBound
      val probe = new S2Loop(vertices, originInside, S2LatLngRect.Full, S2LatLngRect.Full)
      if (probe.bruteForceContains(V3(0, 0, 1)))
        b = S2LatLngRect(R1Interval(b.lat.lo, math.Pi / 2), S1Interval.Full)
      if (b.lng.isFull && probe.bruteForceContains(V3(0, 0, -1)))
        b = S2LatLngRect(R1Interval(-math.Pi / 2, b.lat.hi), b.lng)
      bound = b
    }
    new S2Loop(vertices, originInside,
      bound, S2LatLngRectBounder.expandForSubregions(bound))
  }

  def fromLatLngDegrees(points: Seq[(Double, Double)]): S2Loop =
    apply(points.map { case (lat, lng) => V3.fromLatLngDegrees(lat, lng) }.toArray)

  /** Wedge test at vertex b (reference s2edge_crossings.h:239-251). */
  def angleContainsVertex(a: V3, b: V3, c: V3): Boolean =
    !S2Predicates.orderedCCW(S2EdgeCrossings.refDir(b), c, a, b)
}

/** Loop-level aggregate measures, faithful to the reference's algorithms
  * (s2loop_measures.cc:51-335): signed surface integral with fan-origin
  * relocation + Kahan summation, double-checked against Gauss-Bonnet
  * curvature for near-zero areas. */
object S2LoopMeasures {

  /** Area in [0, 4π]. */
  def area(vertices: Array[V3]): Double = {
    val a = signedArea(vertices)
    if (a < 0.0) a + 4 * math.Pi else a
  }

  def approxArea(vertices: Array[V3]): Double =
    2 * math.Pi - curvature(vertices)

  def signedArea(vertices: Array[V3]): Double = {
    var area = surfaceIntegralKahan(vertices, S2Measures.signedArea)
    val maxError = curvatureMaxError(vertices)
    area = math.IEEEremainder(area, 4 * math.Pi)
    if (area == -2 * math.Pi) area = 2 * math.Pi
    if (math.abs(area) <= maxError) {
      val curv = curvature(vertices)
      if (curv == 2 * math.Pi) return 0.0 // degenerate
      if (area <= 0 && curv > 0) return java.lang.Double.MIN_VALUE
      if (area >= 0 && curv < 0) return -java.lang.Double.MIN_VALUE
    }
    area
  }

  def curvatureMaxError(vertices: Array[V3]): Double =
    11.25 * S2Predicates.DblEpsilon * vertices.length

  /** Remove AA and ABA degeneracies (reference
    * s2loop_measures.cc:155-203). Returns (array, offset, length). */
  def pruneDegeneracies(loop: Array[V3]): (Array[V3], Int, Int) = {
    val vs = scala.collection.mutable.ArrayBuffer[V3]()
    for (v <- loop) {
      if (vs.nonEmpty && v == vs.last) ()
      else if (vs.length >= 2 && v == vs(vs.length - 2)) vs.remove(vs.length - 1)
      else vs += v
    }
    if (vs.length >= 2 && vs.head == vs.last) vs.remove(vs.length - 1)
    if (vs.length < 3) return (Array.empty, 0, 0)
    var k = 0
    while (vs(k + 1) == vs(vs.length - 1 - k) || vs(k) == vs(vs.length - 2 - k)) {
      k += 1
    }
    (vs.toArray, k, vs.length - 2 * k)
  }

  /** (firstIndex, direction) canonical traversal minimizing the vertex
    * sequence (reference s2loop_measures.cc:274-325). */
  def canonicalLoopOrder(loop: IndexedSeq[V3]): (Int, Int) = {
    val n = loop.length
    if (n == 0) return (0, 1)
    @inline def at(i: Int): V3 = loop(((i % n) + n) % n)
    @inline def lexLe(a: V3, b: V3): Boolean = a == b || a.lexLess(b)
    var minIndices = List(0)
    for (i <- 1 until n) {
      if (lexLe(loop(i), loop(minIndices.head))) {
        if (loop(i).lexLess(loop(minIndices.head))) minIndices = Nil
        minIndices = i :: minIndices
      }
    }
    def isOrderLess(o1: (Int, Int), o2: (Int, Int)): Boolean = {
      if (o1 == o2) return false
      var i1 = o1._1; var i2 = o2._1
      var rem = n - 1
      while (rem > 0) {
        i1 += o1._2; i2 += o2._2
        if (at(i1).lexLess(at(i2))) return true
        if (at(i2).lexLess(at(i1))) return false
        rem -= 1
      }
      false
    }
    var minOrder = (minIndices.last, 1)
    for (mi <- minIndices.reverse) {
      val o1 = (mi, 1); val o2 = (mi + n, -1)
      if (isOrderLess(o1, minOrder)) minOrder = o1
      if (isOrderLess(o2, minOrder)) minOrder = o2
    }
    minOrder
  }

  /** Sum of turning angles in canonical order with Kahan compensation
    * (reference s2loop_measures.cc:206-244). */
  def curvature(verticesIn: Array[V3]): Double = {
    if (verticesIn.isEmpty) return -2 * math.Pi
    val (arr, off, len) = pruneDegeneracies(verticesIn)
    if (len == 0) return 2 * math.Pi
    val loop = arr.slice(off, off + len).toIndexedSeq
    val n0 = loop.length
    @inline def at(i: Int): V3 = loop(((i % n0) + n0) % n0)
    val (first, dir) = canonicalLoopOrder(loop)
    var i = first
    var n = n0
    var sum = S2Measures.turnAngle(at(i + n - dir), at(i), at(i + dir))
    var compensation = 0.0
    while (n > 1) {
      n -= 1
      i += dir
      var angle = S2Measures.turnAngle(at(i - dir), at(i), at(i + dir))
      val oldSum = sum
      angle += compensation
      sum += angle
      compensation = (oldSum - sum) + angle
    }
    val kMaxCurvature = 2 * math.Pi - 4 * S2Predicates.DblEpsilon
    sum += compensation
    math.max(-kMaxCurvature, math.min(kMaxCurvature, dir * sum))
  }

  /** Kahan-compensated fan integral with origin relocation for unstable
    * (near-antipodal) fan edges (reference s2loop_measures.h:258-310). */
  def surfaceIntegralKahan(loop: Array[V3], fTri: (V3, V3, V3) => Double): Double = {
    val kMaxLength = math.Pi - 1e-5
    if (loop.length < 3) return 0.0
    var sum = 0.0; var err = 0.0
    @inline def add(value: Double): Unit = {
      val tmp1 = value - err
      val tmp2 = sum + tmp1
      err = (tmp2 - sum) - tmp1
      sum = tmp2
    }
    var origin = loop(0)
    var i = 1
    while (i + 1 < loop.length) {
      if (loop(i + 1).angle(origin) > kMaxLength) {
        val oldOrigin = origin
        if (origin == loop(0)) {
          origin = S2EdgeCrossings.robustCrossProd(loop(0), loop(i)).normalize
        } else if (loop(i).angle(loop(0)) < kMaxLength) {
          origin = loop(0)
        } else {
          origin = loop(0).cross(oldOrigin)
          add(fTri(loop(0), oldOrigin, origin))
        }
        add(fTri(oldOrigin, loop(i), origin))
      }
      add(fTri(origin, loop(i), loop(i + 1)))
      i += 1
    }
    if (origin != loop(0)) add(fTri(origin, loop(loop.length - 1), loop(0)))
    sum
  }

  /** True centroid of the loop interior, scaled by loop area. */
  def centroid(vertices: Array[V3]): V3 = {
    if (vertices.length < 3) return V3.Zero
    // TrueCentroid is signed by triangle orientation, so a plain fan
    // integral accumulates the correct interior centroid.
    var cx = 0.0; var cy = 0.0; var cz = 0.0
    val origin = vertices(0)
    var i = 1
    while (i + 1 < vertices.length) {
      val c = S2Centroids.trueCentroid(origin, vertices(i), vertices(i + 1))
      cx += c.x; cy += c.y; cz += c.z
      i += 1
    }
    V3(cx, cy, cz)
  }
}

object S2Centroids {
  /** True centroid of spherical triangle ABC, scaled by triangle area
    * (reference s2centroids.cc:27-64). */
  def trueCentroid(a: V3, b: V3, c: V3): V3 = {
    val angleA = b.angle(c)
    val angleB = c.angle(a)
    val angleC = a.angle(b)
    val ra = if (angleA == 0) 1.0 else angleA / math.sin(angleA)
    val rb = if (angleB == 0) 1.0 else angleB / math.sin(angleB)
    val rc = if (angleC == 0) 1.0 else angleC / math.sin(angleC)
    val x = V3(a.x, b.x - a.x, c.x - a.x)
    val y = V3(a.y, b.y - a.y, c.y - a.y)
    val z = V3(a.z, b.z - a.z, c.z - a.z)
    val r = V3(ra, rb - ra, rc - ra)
    V3(y.cross(z).dot(r), z.cross(x).dot(r), x.cross(y).dot(r)) * 0.5
  }

  /** Edge centroid, scaled by twice the sine of the arc half-angle. */
  def trueCentroid(a: V3, b: V3): V3 = {
    val vdiff = a - b
    val vsum = a + b
    val sin2 = vdiff.norm2
    val cos2 = vsum.norm2
    if (cos2 == 0) V3.Zero else vsum * math.sqrt(sin2 / cos2)
  }
}
