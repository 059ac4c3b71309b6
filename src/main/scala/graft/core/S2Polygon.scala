package graft.core

/** Polygon = loop hierarchy (shells at even depth, holes at odd depth).
  * Point containment is parity over the loops' [[S2Loop.contains]],
  * identical to the reference's semantics for valid nested polygons
  * (reference s2polygon.h:296-343). Each large loop answers from its own
  * lazily built index, so a polygon cached once per JVM (see
  * [[graft.functions.PolyCache]]) indexes once for every thread. */
final class S2Polygon(val loops: Array[S2Loop]) extends S2Region {

  def numLoops: Int = loops.length
  def isEmpty: Boolean = loops.isEmpty || loops.forall(_.isEmpty)
  def isFull: Boolean = loops.length == 1 && loops(0).isFull

  /** Parity of the number of loops containing p. */
  override def contains(p: V3): Boolean = {
    var inside = false
    var i = 0
    while (i < loops.length) {
      if (loops(i).contains(p)) inside = !inside
      i += 1
    }
    inside
  }

  lazy val bound: S2LatLngRect = {
    // The polygon bound is the union of the depth-0 (shell) bounds.
    // (Holes lie inside their shells; reference s2polygon.cc InitBound.)
    var b = S2LatLngRect.Empty
    var i = 0
    var anyShell = false
    while (i < loops.length) {
      // Without explicit depths we treat normalized loops (area <= 2pi)
      // as shells; inverted "full-ish" loops force a full bound.
      b = b.union(loops(i).bound)
      anyShell = true
      i += 1
    }
    if (!anyShell) S2LatLngRect.Empty else b
  }

  lazy val subregionBound: S2LatLngRect =
    S2LatLngRectBounder.expandForSubregions(bound)

  override def capBound: S2Cap = bound.capBound
  override def rectBound: S2LatLngRect = bound

  private def anyBoundaryIntersects(cell: S2Cell): Boolean = {
    val cv = Array.tabulate(4)(cell.vertex)
    var li = 0
    while (li < loops.length) {
      val loop = loops(li)
      if (loop.numVertices >= 3 && loop.bound.intersectsRect(cell.rectBound)) {
        var k = 0
        while (k < 4) {
          val crosser = new EdgeCrosser(cv(k), cv((k + 1) & 3), loop.vertex(0))
          var i = 1
          while (i <= loop.numVertices) {
            if (crosser.crossingSign(loop.vertex(i)) >= 0) return true
            i += 1
          }
          k += 1
        }
      }
      li += 1
    }
    false
  }

  private def anyVertexInCell(cell: S2Cell): Boolean = {
    var li = 0
    while (li < loops.length) {
      val loop = loops(li)
      var i = 0
      while (i < loop.numVertices) {
        if (cell.containsPoint(loop.vertices(i))) return true
        i += 1
      }
      li += 1
    }
    false
  }

  override def containsCell(cell: S2Cell): Boolean = {
    if (isEmpty) return false
    if (isFull) return true
    if (!subregionBound.containsRect(cell.rectBound)) return false
    contains(cell.center) && !anyBoundaryIntersects(cell) &&
      !anyVertexInCell(cell)
  }

  override def mayIntersectCell(cell: S2Cell): Boolean = {
    if (isEmpty) return false
    if (isFull) return true
    if (!bound.intersectsRect(cell.rectBound)) return false
    if (contains(cell.center)) return true
    if (anyVertexInCell(cell)) return true
    var k = 0
    while (k < 4) {
      if (contains(cell.vertex(k))) return true
      k += 1
    }
    anyBoundaryIntersects(cell)
  }

  /** Nesting depth parity of each loop: +1 for shells (even depth), -1
    * for holes (odd depth), computed by counting the other loops whose
    * interior contains a representative vertex (valid nested polygons
    * only; representative vertices are never on another loop's boundary
    * for valid inputs). */
  lazy val loopSigns: Array[Int] = loops.map { l =>
    if (l.numVertices < 2) 1
    else {
      // probe strictly inside this loop, just off its first edge — NOT a
      // vertex: loops may legally share vertices (touching shells), and a
      // shared vertex lies exactly on the sibling's boundary where parity
      // is undefined
      val a = l.vertex(0); val b = l.vertex(1)
      val mid = (a + b).normalize
      val n = S2EdgeCrossings.robustCrossProd(a, b).normalize
      // probe offset scaled to the local feature size: a fixed offset
      // larger than the first edge would overshoot slivers narrower than
      // it. Floor at 1e-15 (double-precision resolution near unit
      // vectors); features narrower than the chosen eps around the
      // first-edge midpoint remain a documented precondition.
      val eps = math.min(1e-9, math.max(1e-15, (a - b).norm * 1e-3))
      val p1 = (mid * math.cos(eps)) + (n * math.sin(eps))
      val rep = if (l.bruteForceContains(p1)) p1
                else (mid * math.cos(eps)) - (n * math.sin(eps))
      var depth = 0
      for (o <- loops if o ne l)
        if (o.bound.contains(rep) && o.bruteForceContains(rep)) depth += 1
      if (depth % 2 == 0) 1 else -1
    }
  }

  /** Area of the region (parity semantics): Σ (-1)^depth · |loop|.
    * Loops stored inverted (area > 2π) contribute their complement with
    * the opposite sign, so a single inverted loop still measures its
    * written region. */
  def area: Double = {
    var total = 0.0
    var i = 0
    while (i < loops.length) {
      val a = loops(i).area
      val (m, flip) = if (a <= 2 * math.Pi) (a, 1) else (4 * math.Pi - a, -1)
      total += loopSigns(i) * flip * m
      i += 1
    }
    math.abs(total)
  }

  /** Polygon-polygon containment via PIP of representative vertices plus
    * boundary-crossing absence (exact for non-crossing inputs). */
  def containsPolygon(other: S2Polygon): Boolean = {
    if (other.isEmpty) return true
    if (isEmpty) return false
    // Every vertex of `other` must be inside, and no boundary crossings.
    for (loop <- other.loops; i <- 0 until loop.numVertices)
      if (!contains(loop.vertices(i))) return false
    !boundariesCross(other)
  }

  def intersectsPolygon(other: S2Polygon): Boolean = {
    if (isEmpty || other.isEmpty) return false
    for (loop <- other.loops; i <- 0 until loop.numVertices)
      if (contains(loop.vertices(i))) return true
    for (loop <- loops; i <- 0 until loop.numVertices)
      if (other.contains(loop.vertices(i))) return true
    boundariesCross(other)
  }

  private def boundariesCross(other: S2Polygon): Boolean = {
    for (la <- loops; if la.numVertices >= 3;
         lb <- other.loops; if lb.numVertices >= 3) {
      var i = 0
      while (i < la.numVertices) {
        val crosser = new EdgeCrosser(la.vertex(i), la.vertex(i + 1), lb.vertex(0))
        var j = 1
        while (j <= lb.numVertices) {
          if (crosser.crossingSign(lb.vertex(j)) > 0) return true
          j += 1
        }
        i += 1
      }
    }
    false
  }
}

object S2Polygon {
  def fromLoop(loop: S2Loop): S2Polygon = new S2Polygon(Array(loop))
  def empty: S2Polygon = new S2Polygon(Array.empty)
}
