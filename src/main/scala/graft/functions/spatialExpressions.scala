package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression, QuinaryExpression, TernaryExpression, BinaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.core._

/** SQL-surface spatial predicates and their term generators.
  *
  * The predicates ([[S2ContainsPoint]], [[S2WithinDistance]]) are honest
  * scalar expressions — usable in any WHERE clause — but their real
  * purpose is to be *recognizable join conditions*: when one appears as
  * the condition of a plain-SQL join, [[graft.plans.S2SpatialJoinRule]]
  * rewrites the join into the S2RegionTermIndexer candidate equi-join
  * (reference s2region_term_indexer.cc:27-72) with this same predicate as
  * the exact refine, eliminating the BroadcastNestedLoopJoin the naive
  * plan would produce.
  *
  * The term generators ([[S2PointIndexTermsExpr]] etc.) are the native
  * column forms of S2TermIndexer — also SQL-callable directly for users
  * building their own candidate joins. */

/** Shared kernels (static forwarders make these callable from generated
  * Java). A single default-parameter indexer instance is deliberate: the
  * rewrite is only correct when both join sides use the SAME term scheme. */
object S2SpatialKernels {
  val indexer = new S2TermIndexer()

  def polyContains(polyText: UTF8String, lat: Double, lng: Double): Boolean =
    PolyCache.get(polyText).contains(V3.fromLatLngDegrees(lat, lng))

  def polyContainsXYZ(polyText: UTF8String, x: Double, y: Double, z: Double): Boolean =
    PolyCache.get(polyText).contains(V3(x, y, z).normalize)

  def withinDistance(latA: Double, lngA: Double, latB: Double, lngB: Double,
                     radiusRad: Double): Boolean = {
    val a = V3.fromLatLngDegrees(latA, lngA)
    val b = V3.fromLatLngDegrees(latB, lngB)
    (a - b).norm2 <= S1ChordAngle.fromRadians(radiusRad)
  }

  private def toArrayData(terms: Array[String]): ArrayData =
    new GenericArrayData(terms.map(t => UTF8String.fromString(t).asInstanceOf[Any]))

  def pointIndexTerms(lat: Double, lng: Double): ArrayData = {
    val p = V3.fromLatLngDegrees(lat, lng)
    toArrayData(indexer.indexTermsForPoint(p.x, p.y, p.z))
  }

  def polyQueryTerms(polyText: UTF8String): ArrayData =
    toArrayData(indexer.queryTerms(PolyCache.get(polyText)))

  def capQueryTerms(lat: Double, lng: Double, radiusRad: Double): ArrayData =
    toArrayData(indexer.queryTerms(
      S2Cap.fromCenterAngle(V3.fromLatLngDegrees(lat, lng), radiusRad)))
}

/** s2_contains(polyText, latDeg, lngDeg) — exact point-in-polygon
  * (crossing parity, reference s2loop.cc:605-617). The polygon comes
  * from [[PolyCache]], keyed on the text's bytes, so a row costs a
  * sampled hash, a byte compare and the (indexed) containment test. */
case class S2ContainsPoint(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = BooleanType
  override def prettyName: String = "s2_contains"
  override protected def nullSafeEval(poly: Any, lat: Any, lng: Any): Any =
    S2SpatialKernels.polyContains(poly.asInstanceOf[UTF8String],
      lat.asInstanceOf[Double], lng.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (p, la, ln) =>
      s"graft.functions.S2SpatialKernels.polyContains($p, $la, $ln)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression) =
    copy(first = f, second = s, third = t)
}

/** [[S2ContainsPoint]] for a direction vector (x, y, z), any scale. */
case class S2ContainsXYZ(first: Expression, second: Expression, third: Expression,
                         fourth: Expression) extends QuaternaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = BooleanType
  override def prettyName: String = "s2_contains_xyz"
  override protected def nullSafeEval(p: Any, a: Any, b: Any, c: Any): Any =
    S2SpatialKernels.polyContainsXYZ(p.asInstanceOf[UTF8String],
      a.asInstanceOf[Double], b.asInstanceOf[Double], c.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (p, a, b, c) =>
      s"graft.functions.S2SpatialKernels.polyContainsXYZ($p, $a, $b, $c)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
                                                 t: Expression, u: Expression) =
    copy(first = f, second = s, third = t, fourth = u)
}

/** s2_within_distance(latA, lngA, latB, lngB, radiusRad) — true when the
  * two points are within `radiusRad` surface radians (exact chord-angle
  * compare, monotone-safe: d² ≤ chord²(r)). */
case class S2WithinDistance(latA: Expression, lngA: Expression,
                            latB: Expression, lngB: Expression,
                            radius: Expression) extends QuinaryExpression {
  override def children: Seq[Expression] = Seq(latA, lngA, latB, lngB, radius)
  override def dataType: DataType = BooleanType
  override def prettyName: String = "s2_within_distance"
  override protected def nullSafeEval(a: Any, b: Any, c: Any, d: Any, e: Any): Any =
    S2SpatialKernels.withinDistance(a.asInstanceOf[Double], b.asInstanceOf[Double],
      c.asInstanceOf[Double], d.asInstanceOf[Double], e.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c, d, e) =>
      s"graft.functions.S2SpatialKernels.withinDistance($a, $b, $c, $d, $e)")
  override protected def withNewChildrenInternal(nc: IndexedSeq[Expression]) =
    copy(latA = nc(0), lngA = nc(1), latB = nc(2), lngB = nc(3), radius = nc(4))
}

/** s2_point_index_terms(latDeg, lngDeg) — the ancestor index terms of a
  * point document (reference s2region_term_indexer.cc:155-175): plain
  * tokens at levels minLevel..maxLevel, never marker-prefixed. */
case class S2PointIndexTermsExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "s2_point_index_terms"
  override protected def nullSafeEval(lat: Any, lng: Any): Any =
    S2SpatialKernels.pointIndexTerms(lat.asInstanceOf[Double], lng.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (la, ln) =>
      s"graft.functions.S2SpatialKernels.pointIndexTerms($la, $ln)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** s2_poly_query_terms(polyText) — the query terms of a polygon region
  * (covering cells as plain tokens + marker-prefixed ancestors). Against
  * point index terms, the plain tokens are a normalized (disjoint)
  * covering, so each intersecting (point, polygon) pair shares EXACTLY
  * one term — the property that lets [[graft.plans.S2SpatialJoinRule]]
  * skip pair deduplication. */
case class S2PolyQueryTermsExpr(child: Expression) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "s2_poly_query_terms"
  override protected def nullSafeEval(poly: Any): Any =
    S2SpatialKernels.polyQueryTerms(poly.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, p => s"graft.functions.S2SpatialKernels.polyQueryTerms($p)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** s2_cap_query_terms(latDeg, lngDeg, radiusRad) — query terms of the cap
  * around a point; the within-distance analogue of
  * [[S2PolyQueryTermsExpr]] (same single-shared-term property). */
case class S2CapQueryTermsExpr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "s2_cap_query_terms"
  override protected def nullSafeEval(lat: Any, lng: Any, r: Any): Any =
    S2SpatialKernels.capQueryTerms(lat.asInstanceOf[Double],
      lng.asInstanceOf[Double], r.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (la, ln, r) =>
      s"graft.functions.S2SpatialKernels.capQueryTerms($la, $ln, $r)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression) =
    copy(first = f, second = s, third = t)
}
