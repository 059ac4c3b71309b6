package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import graft.core._

/** Region×region joins and measures: both sides carry *regions* (as
  * normalized cell-union arrays), intersection decided by the
  * S2RegionTermIndexer scheme — two regions share ≥1 term iff their
  * coverings intersect (/root/reference/src/s2/s2region_term_indexer.cc:27-72) —
  * then refined with the exact sorted-merge cell-union intersection
  * (/root/reference/src/s2/s2cell_union.cc:355-439). */
object RegionJoins {

  private val indexer = new S2TermIndexer()

  val indexTermsUdf = udf { (cells: Array[Long]) =>
    indexer.indexTermsForCovering(cells) }
  val queryTermsUdf = udf { (cells: Array[Long]) =>
    indexer.queryTermsForCovering(cells) }
  val unionIntersectsUdf = udf { (a: Array[Long], b: Array[Long]) =>
    S2CellUnion.intersectsUnion(a, b) }
  val unionContainsUdf = udf { (a: Array[Long], b: Array[Long]) =>
    S2CellUnion.containsUnion(a, b) }

  /** (lid, rid, lpay, rpay) candidates of the joins below: ids-only covering
    * terms through [[TermPairs.pairs]] (deduped: coverings share many terms),
    * then each side's payload re-joins by id. Ids must be unique per side. */
  private def regionPairs(left: DataFrame, leftId: String, leftPay: String,
                          right: DataFrame, rightId: String, rightPay: String,
                          idxTerms: UserDefinedFunction,
                          qryTerms: UserDefinedFunction): DataFrame = {
    val l = left.select(col(leftId).as("lid"), col(leftPay).as("lpay"))
    val r = right.select(col(rightId).as("rid"), col(rightPay).as("rpay"))
    TermPairs.pairs(
      l.select(col("lid"), explode(idxTerms(col("lpay"))).as("term")),
      r.select(col("rid"), explode(qryTerms(col("rpay"))).as("term")),
      dedup = true)
      .join(l, "lid").join(r, "rid")
  }

  /** Inner join of two region tables on covering intersection. Both sides
    * arbitrary size: ids-only term candidates + exact cell-union refine.
    * Left columns (leftId, leftCells) vs right (rightId, rightCells); ids
    * must be unique per side. */
  def intersectsJoin(left: DataFrame, leftId: String, leftCells: String,
                     right: DataFrame, rightId: String, rightCells: String): DataFrame =
    regionPairs(left, leftId, leftCells, right, rightId, rightCells,
      indexTermsUdf, queryTermsUdf)
      .where(unionIntersectsUdf(col("lpay"), col("rpay")))
      .select("lid", "rid")

  /** Segment × segment proper-crossing join (BOTH sides large — the
    * road-intersection shape): each segment emits S2RegionTermIndexer
    * index/query terms for its bounding cap, candidates share ≥1 term
    * (one equi-join shuffle carrying id + 4 coordinate scalars per term,
    * AQE/skew eligible, never all-pairs), then the EXACT crossing
    * predicate refines (S2EdgeCrossings.crossingSign — the
    * s2edge_crossings.cc CrossingSign ladder). Shared-endpoint contacts
    * are excluded (crossingSign = 0 there; use vertexCrossing semantics
    * downstream if needed). Returns (id_a, id_b).
    *
    * Scale note: bounding-cap coverings of VERY LONG arcs are loose
    * (a quarter-sphere segment pulls quarter-sphere candidates) —
    * tessellate long segments first (Projections tessellator) so each
    * piece's cap is tight; short road-network segments need nothing. */
  def edgeCrossingJoin(left: DataFrame, leftId: String,
                       right: DataFrame, rightId: String,
                       lat1: String = "lat1", lng1: String = "lng1",
                       lat2: String = "lat2", lng2: String = "lng2",
                       segIndexer: S2TermIndexer = new S2TermIndexer()): DataFrame = {
    def cap(la1: Double, ln1: Double, la2: Double, ln2: Double): S2Cap = {
      val u = V3.fromLatLngDegrees(la1, ln1)
      val v = V3.fromLatLngDegrees(la2, ln2)
      val c0 = u + v
      val center = if (c0.norm2 < 1e-30) u else c0.normalize
      S2Cap.fromCenterAngle(center, math.min(math.Pi, center.angle(u) + 1e-14))
    }
    val segIdxTerms = udf { (la1: Double, ln1: Double, la2: Double, ln2: Double) =>
      segIndexer.indexTerms(cap(la1, ln1, la2, ln2)) }
    val segQryTerms = udf { (la1: Double, ln1: Double, la2: Double, ln2: Double) =>
      segIndexer.queryTerms(cap(la1, ln1, la2, ln2)) }
    val crosses = udf {
      (a1La: Double, a1Ln: Double, a2La: Double, a2Ln: Double,
       b1La: Double, b1Ln: Double, b2La: Double, b2Ln: Double) =>
        S2EdgeCrossings.crossingSign(
          V3.fromLatLngDegrees(a1La, a1Ln), V3.fromLatLngDegrees(a2La, a2Ln),
          V3.fromLatLngDegrees(b1La, b1Ln), V3.fromLatLngDegrees(b2La, b2Ln)) > 0
    }
    // (id, 4 endpoint doubles, term): the endpoints are all the refine reads
    def ends(s: String) = (1 to 4).map(i => s"_$s$i")
    def side(df: DataFrame, id: String, s: String, terms: UserDefinedFunction) =
      df.select(col(id).as(s"id_$s") +: Seq(lat1, lng1, lat2, lng2).zip(ends(s))
        .map { case (c, e) => col(c).cast("double").as(e) }: _*)
        .withColumn("term", explode(terms(ends(s).map(col): _*)))
    TermPairs.pairs(side(left, leftId, "a", segIdxTerms),
      side(right, rightId, "b", segQryTerms), dedup = true)
      .where(crosses((ends("a") ++ ends("b")).map(col): _*))
      .select("id_a", "id_b")
  }

  private val polyIndexTermsUdf = udf { (text: String) =>
    indexer.indexTerms(graft.functions.PolyCache.get(text)) }
  private val polyQueryTermsUdf = udf { (text: String) =>
    indexer.queryTerms(graft.functions.PolyCache.get(text)) }

  /** Exact polygon×polygon intersects join (polygon text columns, both
    * sides arbitrary size): ids-only covering-term candidates + exact
    * S2Polygon.intersectsPolygon refine (edge crossings + containment,
    * reference s2polygon.h:296-343). Ids must be unique per side. */
  def polygonIntersectsJoin(left: DataFrame, leftId: String, leftPoly: String,
                            right: DataFrame, rightId: String, rightPoly: String): DataFrame = {
    val exact = udf { (a: String, b: String) =>
      graft.functions.PolyCache.get(a)
        .intersectsPolygon(graft.functions.PolyCache.get(b)) }
    regionPairs(left, leftId, leftPoly, right, rightId, rightPoly,
      polyIndexTermsUdf, polyQueryTermsUdf)
      .where(exact(col("lpay"), col("rpay")))
      .select("lid", "rid")
  }

  /** Per-pair overlap fractions (S2Polygon::GetOverlapFractions,
    * s2polygon.cc:600) as a struct column over two polygon-text columns:
    * (frac_a, frac_b) = intersection area over each operand's area,
    * clamped to 1. */
  val overlapFractionsUdf = udf { (a: String, b: String) =>
    val (fa, fb) = S2BooleanOps.overlapFractions(
      graft.functions.PolyCache.get(a), graft.functions.PolyCache.get(b))
    (fa, fb)
  }

  /** ApproxContains / ApproxDisjoint (s2polygon.cc:676,682) over polygon
    * text columns at tolerance `tolRadians`. */
  def approxContainsUdf(tolRadians: Double) = udf { (a: String, b: String) =>
    PolygonApprox.approxContains(graft.functions.PolyCache.get(a),
      graft.functions.PolyCache.get(b), tolRadians)
  }
  def approxDisjointUdf(tolRadians: Double) = udf { (a: String, b: String) =>
    PolygonApprox.approxDisjoint(graft.functions.PolyCache.get(a),
      graft.functions.PolyCache.get(b), tolRadians)
  }

  /** Overlap-fraction join (dedup-by-region-overlap shape): polygon-text
    * tables on both sides, arbitrary size, ids unique per side. Ids-only
    * covering-term candidates, then the exact boolean-op intersection area
    * refines each pair. Emits (lid, rid, frac_l, frac_r) for pairs with
    * positive overlap and frac_l >= minFraction — pairs without a shared
    * term have disjoint coverings, hence fraction 0, and are absent. */
  def overlapFractionsJoin(left: DataFrame, leftId: String, leftPoly: String,
                           right: DataFrame, rightId: String, rightPoly: String,
                           minFraction: Double = 0.0): DataFrame =
    regionPairs(left, leftId, leftPoly, right, rightId, rightPoly,
      polyIndexTermsUdf, polyQueryTermsUdf)
      .withColumn("fr", overlapFractionsUdf(col("lpay"), col("rpay")))
      .where(col("fr._1") > 0 && col("fr._1") >= minFraction)
      .select(col("lid"), col("rid"),
        col("fr._1").as("frac_l"), col("fr._2").as("frac_r"))

  // ---- cell-union set algebra as columns (SURVEY §2.9) ----
  val unionUdf = udf { (a: Array[Long], b: Array[Long]) => S2CellUnion.union(a, b) }
  val intersectionUdf = udf { (a: Array[Long], b: Array[Long]) =>
    S2CellUnion.intersection(a, b) }
  val differenceUdf = udf { (a: Array[Long], b: Array[Long]) =>
    S2CellUnion.difference(a, b) }
  val leafCountUdf = udf { (a: Array[Long]) => S2CellUnion.leafCellsCovered(a) }
  val exactAreaUdf = udf { (a: Array[Long]) => S2CellUnion.exactArea(a) }

  def cellUnion(a: Column, b: Column): Column = unionUdf(a, b)
  def cellIntersection(a: Column, b: Column): Column = intersectionUdf(a, b)
  def cellDifference(a: Column, b: Column): Column = differenceUdf(a, b)
  def leafCellsCovered(a: Column): Column = leafCountUdf(a)
  def unionExactArea(a: Column): Column = exactAreaUdf(a)

  /** Directed Hausdorff distance (squared chord) from chain A to chain B —
    * S2HausdorffDistanceQuery.GetDirectedDistance over open chains. This
    * IS the reference's formulation: its directed distance is the max over
    * target VERTICES of the closest-edge distance
    * (s2hausdorff_distance_query.cc:111-122, "this approximation of
    * Hausdorff distance"). */
  val directedHausdorffUdf = udf {
    (aLat: Seq[Double], aLng: Seq[Double], bLat: Seq[Double], bLng: Seq[Double]) =>
      val av = aLat.zip(aLng).map { case (la, ln) => V3.fromLatLngDegrees(la, ln) }.toArray
      val bv = bLat.zip(bLng).map { case (la, ln) => V3.fromLatLngDegrees(la, ln) }.toArray
      val d = S2Hausdorff.directedDistance2(
        IndexedSeq(S2Hausdorff.Chain(av, closed = false)),
        IndexedSeq(S2Hausdorff.Chain(bv, closed = false)),
        includeInteriors = false)
      if (d == Double.PositiveInfinity) -1.0 else d
  }

  /** Undirected Hausdorff distance (squared chord) between two polygon
    * texts, interiors included (S2HausdorffDistanceQuery.GetDistance). */
  val polygonHausdorffUdf = udf { (aText: String, bText: String) =>
    def chains(p: S2Polygon): IndexedSeq[S2Hausdorff.Chain] =
      p.loops.map(l => S2Hausdorff.Chain(l.vertices, closed = true)).toIndexedSeq
    val d = S2Hausdorff.distance2(
      chains(graft.functions.PolyCache.get(aText)),
      chains(graft.functions.PolyCache.get(bText)))
    if (d == Double.PositiveInfinity) -1.0 else d
  }
}
