package graft.core

import S2Coords.{stToUV, MaxCellLevel}

/** Point-containment index of one loop: the reference's
  * MutableS2ShapeIndex + S2ContainsPointQuery pair, cut down to what
  * [[S2Loop.contains]] needs (reference mutable_s2shape_index.cc,
  * s2contains_point_query.cc).
  *
  * Each cube face the loop touches gets a quadtree of S2 cells, split at
  * their (s,t) midpoints. A leaf keeps the loop edges that meet its (u,v)
  * rectangle padded by [[S2LoopIndex.Pad]], plus whether the loop
  * contains the leaf's centre. `contains(p)` finds p's leaf and XORs that
  * bit with `edgeOrVertexCrossing` along centre→p over the leaf's edges.
  * The segment centre→p stays inside the leaf, so no other edge can cross
  * it, and the crossing rule is the one [[S2Loop.bruteForceContains]]
  * uses, so both give the same answer for every point.
  *
  * Edges are clipped exactly: a geodesic edge is a straight segment in a
  * face's (u,v) plane, and cells are (u,v) rectangles, so edge/cell
  * overlap is a segment/rectangle test. Centre bits are never computed by
  * brute force below a face's root cell: a child's centre bit is its
  * parent's XOR the crossings along parent centre → child centre, and the
  * parent centre is the child's corner, so only the child's own edges
  * take part. */
private[core] final class S2LoopIndex private (
    roots: Array[S2LoopIndex.Root], faceInside: Array[Boolean], loop: S2Loop,
    val numCells: Int, val numEdgeRefs: Long) {
  import S2LoopIndex._

  def contains(p: V3): Boolean = {
    val f = S2Coords.face(p.x, p.y, p.z)
    val root = roots(f)
    if (root == null) return faceInside(f)
    val u = S2Coords.validFaceXYZtoU(f, p.x, p.y, p.z)
    val v = S2Coords.validFaceXYZtoV(f, p.x, p.y, p.z)
    if (u < root.u0 || u > root.u1 || v < root.v0 || v > root.v1)
      return root.outsideInside
    var n = root.node
    while (n.children != null)
      n = n.children((if (u >= n.uMid) 1 else 0) + (if (v >= n.vMid) 2 else 0))
    var inside = n.inside
    val edges = n.edges
    if (edges.length > 0) {
      val crosser = new EdgeCrosser(n.center, p)
      var prev = -2
      var k = 0
      while (k < edges.length) {
        val e = edges(k)
        if (e != prev + 1) crosser.restartAt(loop.vertex(e))
        inside ^= crosser.edgeOrVertexCrossing(loop.vertex(e + 1))
        prev = e
        k += 1
      }
    }
    inside
  }

  /** Centres of every cell in the index (leaves and inner cells). */
  def cellCenters: Seq[V3] = {
    val out = Seq.newBuilder[V3]
    def walk(n: Node): Unit = {
      out += n.center
      if (n.children != null) n.children.foreach(walk)
    }
    roots.foreach(r => if (r != null) walk(r.node))
    out.result()
  }
}

private[core] object S2LoopIndex {
  /** Padding of every cell's (u,v) rectangle: far above the rounding of
    * the face projection and of the segment test (a few 1e-16), far below
    * the size of a level-30 cell (about 1e-9). */
  final val Pad = 1e-13
  /** A cell whose edges (counting only edges at least as short as the
    * cell) number at most this many is a leaf (reference
    * MutableS2ShapeIndex max_edges_per_cell). */
  final val MaxEdgesPerCell = 10
  /** Build stops, and the loop keeps brute force, once one edge lies in
    * more cells than this. Each edge lies in a few cells per level on real
    * loops; the cap bounds build time on loops made to defeat the index. */
  final val MaxCellsPerEdge = 1024

  private final class Node(val uMid: Double, val vMid: Double,
                           val children: Array[Node], val edges: Array[Int],
                           val center: V3, val inside: Boolean)

  private final class Root(val node: Node, val u0: Double, val u1: Double,
                           val v0: Double, val v1: Double,
                           val outsideInside: Boolean)

  private final class Aborted extends RuntimeException(null, null, false, false)

  private def point(f: Int, u: Double, v: Double): V3 = {
    val a = S2Coords.faceUVtoXYZ(f, u, v)
    V3(a(0), a(1), a(2)).normalize
  }

  /** The index of `loop`, or None when an edge exceeds
    * [[MaxCellsPerEdge]] or cannot be projected (antipodal endpoints). */
  def build(loop: S2Loop): Option[S2LoopIndex] =
    try Some(new Builder(loop).result) catch { case _: Aborted => None }

  /** A loop edge clipped to one face: its id and (u,v) endpoints. */
  private final class Seg(val edge: Int, ua: Double, va: Double, ub: Double, vb: Double) {
    def uLo: Double = math.min(ua, ub)
    def uHi: Double = math.max(ua, ub)
    def vLo: Double = math.min(va, vb)
    def vHi: Double = math.max(va, vb)

    /** Does the segment meet [u0,u1]×[v0,v1] padded by Pad? */
    def meets(u0: Double, u1: Double, v0: Double, v1: Double): Boolean = {
      val x0 = u0 - Pad; val x1 = u1 + Pad; val y0 = v0 - Pad; val y1 = v1 + Pad
      if (uHi < x0 || uLo > x1 || vHi < y0 || vLo > y1) return false
      // inside the bounding box: the segment meets the rectangle unless
      // all four corners lie strictly on one side of its line
      val dx = ub - ua; val dy = vb - va
      val c00 = dx * (y0 - va) - dy * (x0 - ua)
      val c10 = dx * (y0 - va) - dy * (x1 - ua)
      val c01 = dx * (y1 - va) - dy * (x0 - ua)
      val c11 = dx * (y1 - va) - dy * (x1 - ua)
      !((c00 > 0 && c10 > 0 && c01 > 0 && c11 > 0) ||
        (c00 < 0 && c10 < 0 && c01 < 0 && c11 < 0))
    }
  }

  private final class Builder(loop: S2Loop) {
    private val n = loop.numVertices
    private val faces = Array.fill(6)(scala.collection.mutable.ArrayBuffer.empty[Seg])
    /** Level at which cells are about as long as the edge; finer cells do
      * not split on its account (reference GetEdgeMaxLevel). */
    private val edgeMaxLevel = new Array[Int](n)
    private val cellsPerEdge = new Array[Int](n)
    private var numCells = 0
    private var numEdgeRefs = 0L

    clipEdges()

    val result: S2LoopIndex = {
      val roots = new Array[Root](6)
      val faceInside = new Array[Boolean](6)
      var f = 0
      while (f < 6) {
        if (faces(f).isEmpty) faceInside(f) = loop.bruteForceContains(point(f, 0, 0))
        else roots(f) = buildRoot(f)
        f += 1
      }
      new S2LoopIndex(roots, faceInside, loop, numCells, numEdgeRefs)
    }

    /** Clip every edge to each face's (u,v) square padded by Pad. Along the
      * chord (1-t)·a + t·b the face coordinates are linear in t, so the
      * face is the t-interval where |u'| ≤ k·w' and |v'| ≤ k·w'. */
    private def clipEdges(): Unit = {
      val k = 1 + Pad
      var i = 0
      while (i < n) {
        val a = loop.vertex(i); val b = loop.vertex(i + 1)
        edgeMaxLevel(i) = S2Metrics.AvgEdge.levelForMaxValue((a - b).norm)
        var f = 0
        while (f < 6) {
          val pa = S2Coords.faceXYZtoUVW(f, a.x, a.y, a.z)
          val pb = S2Coords.faceXYZtoUVW(f, b.x, b.y, b.z)
          var lo = 0.0; var hi = 1.0
          var c = 0
          while (c < 4 && lo <= hi) {
            // constraint g(t) = ±x'(t) - k·w'(t) ≤ 0, x' = u' or v'
            val axis = c >> 1
            val sgn = if ((c & 1) == 0) 1.0 else -1.0
            val g0 = sgn * pa(axis) - k * pa(2)
            val g1 = sgn * pb(axis) - k * pb(2)
            if (g0 > 0 && g1 > 0) hi = -1.0
            else if (g0 > 0) lo = math.max(lo, g0 / (g0 - g1))
            else if (g1 > 0) hi = math.min(hi, g0 / (g0 - g1))
            c += 1
          }
          if (lo <= hi) {
            val wa = (1 - lo) * pa(2) + lo * pb(2)
            val wb = (1 - hi) * pa(2) + hi * pb(2)
            if (!(wa > 0 && wb > 0)) throw new Aborted
            faces(f) += new Seg(i,
              ((1 - lo) * pa(0) + lo * pb(0)) / wa, ((1 - lo) * pa(1) + lo * pb(1)) / wa,
              ((1 - hi) * pa(0) + hi * pb(0)) / wb, ((1 - hi) * pa(1) + hi * pb(1)) / wb)
          }
          f += 1
        }
        i += 1
      }
    }

    /** Descend from the face to the smallest cell whose rectangle holds
      * all the face's segments with Pad to spare, and index from there.
      * The rest of the face meets no edge, so one bit answers it. */
    private def buildRoot(f: Int): Root = {
      val segs = faces(f).toArray
      var uLo = segs.map(_.uLo).min; var uHi = segs.map(_.uHi).max
      var vLo = segs.map(_.vLo).min; var vHi = segs.map(_.vHi).max
      uLo -= Pad; uHi += Pad; vLo -= Pad; vHi += Pad
      var level = 0
      var s0 = 0.0; var s1 = 1.0; var t0 = 0.0; var t1 = 1.0
      var searching = true
      while (searching && level < MaxCellLevel) {
        val uMid = stToUV(0.5 * (s0 + s1)); val vMid = stToUV(0.5 * (t0 + t1))
        val uSide = if (uHi < uMid) 0 else if (uLo > uMid) 1 else -1
        val vSide = if (vHi < vMid) 0 else if (vLo > vMid) 1 else -1
        if (uSide < 0 || vSide < 0) searching = false
        else {
          if (uSide == 0) s1 = 0.5 * (s0 + s1) else s0 = 0.5 * (s0 + s1)
          if (vSide == 0) t1 = 0.5 * (t0 + t1) else t0 = 0.5 * (t0 + t1)
          level += 1
        }
      }
      val u0 = stToUV(s0); val u1 = stToUV(s1); val v0 = stToUV(t0); val v1 = stToUV(t1)
      val center = point(f, stToUV(0.5 * (s0 + s1)), stToUV(0.5 * (t0 + t1)))
      val node = buildNode(f, level, s0, s1, t0, t1, center,
        loop.bruteForceContains(center), segs)
      // a face point beyond the root: the root lies in one half of the
      // face along u, so the middle of the far u-edge of the face is clear
      val outside =
        if (level == 0) false
        else loop.bruteForceContains(point(f, if (u0 > -1) -1.0 else 1.0, 0.0))
      new Root(node, u0, u1, v0, v1, outside)
    }

    private def buildNode(f: Int, level: Int, s0: Double, s1: Double,
                          t0: Double, t1: Double, center: V3, inside: Boolean,
                          segs: Array[Seg]): Node = {
      numCells += 1
      numEdgeRefs += segs.length
      var i = 0
      while (i < segs.length) {
        val e = segs(i).edge
        cellsPerEdge(e) += 1
        if (cellsPerEdge(e) > MaxCellsPerEdge) throw new Aborted
        i += 1
      }
      var short = 0
      i = 0
      while (i < segs.length) {
        if (level < edgeMaxLevel(segs(i).edge)) short += 1
        i += 1
      }
      val sMid = 0.5 * (s0 + s1); val tMid = 0.5 * (t0 + t1)
      val uMid = stToUV(sMid); val vMid = stToUV(tMid)
      if (short <= MaxEdgesPerCell || level == MaxCellLevel) {
        val edges = segs.map(_.edge)
        java.util.Arrays.sort(edges)
        return new Node(uMid, vMid, null, edges, center, inside)
      }
      val children = new Array[Node](4)
      var c = 0
      while (c < 4) {
        val (cs0, cs1) = if ((c & 1) == 0) (s0, sMid) else (sMid, s1)
        val (ct0, ct1) = if ((c & 2) == 0) (t0, tMid) else (tMid, t1)
        val cu0 = stToUV(cs0); val cu1 = stToUV(cs1)
        val cv0 = stToUV(ct0); val cv1 = stToUV(ct1)
        val childSegs = segs.filter(_.meets(cu0, cu1, cv0, cv1))
        val childCenter = point(f, stToUV(0.5 * (cs0 + cs1)), stToUV(0.5 * (ct0 + ct1)))
        // this cell's centre is the child's corner: only the child's own
        // edges can cross the segment to the child's centre
        var childInside = inside
        if (childSegs.length > 0) {
          val crosser = new EdgeCrosser(center, childCenter)
          var k = 0
          while (k < childSegs.length) {
            val e = childSegs(k).edge
            crosser.restartAt(loop.vertex(e))
            childInside ^= crosser.edgeOrVertexCrossing(loop.vertex(e + 1))
            k += 1
          }
        }
        children(c) = buildNode(f, level + 1, cs0, cs1, ct0, ct1, childCenter,
          childInside, childSegs)
        c += 1
      }
      new Node(uMid, vMid, children, Array.emptyIntArray, center, inside)
    }
  }
}
