package graft.spark

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{PolyCache, PolygonTextCache}

/** The polygon-text cache: byte-keyed lookups, vertex-bounded CLOCK
  * eviction that keeps a hot set, and hit/miss counters. */
class PolyCacheSpec extends AnyFunSuite {

  /** An n-vertex ring around (lat, lng) as S2 text. */
  private def ringText(lat: Double, lng: Double, n: Int): String =
    (0 until n).map { i =>
      val t = 2 * math.Pi * i / n
      f"${lat + math.sin(t)}%.7f:${lng + math.cos(t)}%.7f"
    }.mkString(", ")

  test("a hot set stays cached while more polygons than the cap stream through") {
    val cache = new PolygonTextCache(maxVertices = 64L * 20)
    val hot = Seq(ringText(0, 0, 64), ringText(5, 5, 64), ringText(-5, 5, 64))
    val hotPolys = hot.map(cache.get)
    val streamed = 300
    for (i <- 0 until streamed) {
      hot.zip(hotPolys).foreach { case (t, p) => assert(cache.get(t) eq p) }
      cache.get(ringText(20 + i * 0.01, 40, 64))
      assert(cache.cachedVertices <= cache.maxVertices)
    }
    assert(hot.forall(cache.isCached))
    assert((0 until streamed - 20).forall(i => !cache.isCached(ringText(20 + i * 0.01, 40, 64))))
    assert(cache.hitCount == 3L * streamed)
    assert(cache.missCount == 3L + streamed)
  }

  test("lookups match on bytes wherever they sit, and confirm samples with a full compare") {
    val cache = new PolygonTextCache(maxVertices = 1L << 16)
    val text = ringText(10, 10, 200)
    val p = cache.get(text)
    // the same bytes inside a larger buffer, as in an UnsafeRow
    val bytes = text.getBytes(UTF_8)
    val buf = new Array[Byte](bytes.length + 17)
    System.arraycopy(bytes, 0, buf, 9, bytes.length)
    assert(cache.get(UTF8String.fromBytes(buf, 9, bytes.length)) eq p)
    // flip one digit the sampled hash skips: same length and samples,
    // different polygon
    val n = bytes.length
    val sampled = (0 until PolygonTextCache.HashSamples)
      .map(k => (k.toLong * (n - 1) / (PolygonTextCache.HashSamples - 1)).toInt).toSet
    val i = (0 until n).find(i => !sampled(i) && bytes(i) >= '1' && bytes(i) <= '8').get
    val twin = bytes.clone()
    twin(i) = (twin(i) + 1).toByte
    val q = cache.get(UTF8String.fromBytes(twin))
    assert(q ne p)
    assert(!q.loops(0).vertices.sameElements(p.loops(0).vertices))
    assert(cache.get(text) eq p)
    assert(cache.hitCount == 2 && cache.missCount == 2)
  }

  test("a polygon larger than the whole bound is parsed but never cached") {
    val cache = new PolygonTextCache(maxVertices = 100)
    val big = ringText(0, 0, 200)
    assert(cache.get(big).loops(0).numVertices == 200)
    assert(!cache.isCached(big) && cache.cachedVertices == 0)
  }

  test("s2_contains_xyz: interpreted and codegen'd agree with the core kernel") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{Literal, UnsafeProjection}
    import graft.core.V3
    import graft.functions.S2ContainsXYZ
    val text = ringText(10, 20, 48)
    val poly = PolyCache.get(text)
    val rnd = new scala.util.Random(5)
    for (_ <- 0 until 200) {
      val p = V3.fromLatLngDegrees(10 + rnd.nextGaussian(), 20 + rnd.nextGaussian())
      val scale = 0.1 + rnd.nextDouble() * 10
      val e = S2ContainsXYZ(Literal(UTF8String.fromString(text)), Literal(p.x * scale),
        Literal(p.y * scale), Literal(p.z * scale))
      val want = poly.contains(V3(p.x * scale, p.y * scale, p.z * scale).normalize)
      assert(e.eval() == want)
      assert(UnsafeProjection.create(Seq(e)).apply(InternalRow.empty).getBoolean(0) == want)
    }
  }

  test("the JVM-wide cache keeps the String lookup") {
    val text = ringText(-30, 60, 40)
    assert(PolyCache.get(text) eq PolyCache.get(UTF8String.fromString(text)))
  }
}
