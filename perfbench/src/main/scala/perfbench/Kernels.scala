package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import graft.core._
import graft.operators.CellIntervalIndex
import graft.functions.PolyCache

/** Single-thread kernel phase of a traced run: ns per call of the hot
  * kernels, beside the anchors in BASELINE.md (FromPoint 0.108 µs,
  * ToPoint 0.096 µs, the 32-vertex PIP crossover). */
object Kernels {
  private var sink = 0L

  /** Median over `reps` timed blocks of ns per op; `op(i)` runs one op. */
  private def nsPerOp(budgetMs: Long, reps: Int = 5)(op: Int => Long): Double = {
    // calibrate a block to about budget / reps
    var n = 1
    var t = 0L
    while ({
      val t0 = System.nanoTime(); var i = 0
      while (i < n) { sink += op(i); i += 1 }
      t = System.nanoTime() - t0
      t < budgetMs * 1000000L / (2 * reps) && n < (1 << 28)
    }) n *= 2
    Stats.median((0 until reps).map { _ =>
      val t0 = System.nanoTime(); var i = 0
      while (i < n) { sink += op(i); i += 1 }
      (System.nanoTime() - t0).toDouble / n
    })
  }

  def run(tiny: Boolean, tracer: Tracer): Map[String, Double] = {
    val ms: Long = if (tiny) 20 else 150
    val rnd = new scala.util.Random(20261017)
    val pts = Array.fill(4096) {
      V3.fromLatLngDegrees(math.toDegrees(math.asin(rnd.nextDouble() * 2 - 1)),
        rnd.nextDouble() * 360 - 180)
    }
    val ids = pts.map(p => S2CellId.fromPoint(p.x, p.y, p.z))
    val mask = pts.length - 1
    val out = Map.newBuilder[String, Double]

    tracer.span("core.kernels") {
      out += "core.fromPoint_ns" -> nsPerOp(ms) { i =>
        val p = pts(i & mask); S2CellId.fromPoint(p.x, p.y, p.z)
      }
      out += "core.toPoint_ns" -> nsPerOp(ms) { i =>
        java.lang.Double.doubleToRawLongBits(S2CellId.toPoint(ids(i & mask))(0))
      }
      // brute-force containment against star loops of growing size,
      // half the probes inside
      for ((label, n) <- Seq("v4" -> 4, "v64" -> 64, "v1k" -> 1024, "v16k" -> 16384)) {
        val loop = S2Loop(Shapes.starPoints(10, 20, 3.0, n, rnd)
          .map { case (a, b) => V3.fromLatLngDegrees(a, b) }.toArray)
        val probes = Array.fill(1024)(V3.fromLatLngDegrees(
          10 + (rnd.nextDouble() - 0.5) * 6, 20 + (rnd.nextDouble() - 0.5) * 6))
        out += s"core.pip_ns_$label" -> nsPerOp(ms) { i =>
          if (loop.contains(probes(i & 1023))) 1L else 0L
        }
      }
      val radii = Array(0.005, 0.02, 0.08, 0.32)
      val cov = new S2RegionCoverer(8, 0, 30)
      out += "core.cover_us" -> nsPerOp(ms) { i =>
        cov.getCovering(S2Cap.fromCenterAngle(pts(i & mask), radii(i & 3))).length.toLong
      } / 1e3
    }

    tracer.span("functions.kernels") {
      val text = Shapes.starText(-20, 130, 3.0, 4096, rnd)
      var fresh = 0
      out += "functions.polycache_parse_ms" -> nsPerOp(ms, reps = 3) { _ =>
        // leading blanks make a new cache key for the same polygon
        fresh += 1
        PolyCache.get(" " * (fresh % 100000) + text).numLoops.toLong
      } / 1e6
      // the refine expressions decode each row's UTF-8 text to a String
      // before the lookup; do the same
      val bytes = text.getBytes(UTF_8)
      PolyCache.get(text)
      out += "functions.polycache_get_ns" -> nsPerOp(ms) { _ =>
        PolyCache.get(new String(bytes, UTF_8)).numLoops.toLong
      }
    }

    tracer.span("operators.kernels") {
      val nCaps = if (tiny) 200 else 10000
      val cov = new S2RegionCoverer(8, 0, 30)
      val entries = (0 until nCaps).map { i =>
        (i, cov.getCovering(S2Cap.fromCenterAngle(pts((i * 7) & mask), 0.02)), Array.empty[Long])
      }
      var idx: CellIntervalIndex = null
      out += "operators.index_build_ms" -> nsPerOp(ms, reps = 3) { _ =>
        idx = CellIntervalIndex.build(entries); idx.size.toLong
      } / 1e6
      val ords = ids.map(S2CellId.orderKey)
      out += "operators.stab_ns" -> nsPerOp(ms) { i =>
        idx.labelsContaining(ords(i & mask)).length.toLong
      }
    }
    out.result()
  }
}
