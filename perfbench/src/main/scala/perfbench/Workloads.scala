package perfbench

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._
import graft.operators.{S2Joins, CellIntervalIndex}
import graft.runtime.StageRunner
import graft.sources.DocSource

/** What a workload sees of the run: its session, seed, input and tracer. */
final case class Ctx(spark: SparkSession, seed: Long, tiny: Boolean,
                     input: CachedInput, work: Path, tracer: Tracer)

/** One cumulative cut of a traced run: the job `run` does the work of all
  * layers up to and including `layer`, whose self time is this cut's
  * median minus the previous cut's. It returns counts made on the way. */
final case class Cut(layer: String, run: () => Map[String, Double])

/** A workload bound to a session and one input table. */
trait Bound {
  /** The result by a path independent of the one `pass` measures. */
  def expected(): Seq[String]
  /** One pass through the layers under test, as canonical result lines. */
  def pass(): Seq[String]
  /** Untimed clean-up after a pass. */
  def afterPass(): Unit = ()
  /** Traced-run cuts, in order; the pass itself follows them as the cut
    * of `finalLayer`. */
  def cuts: Seq[Cut]
  def finalLayer: String
  /** Per-layer counts and ratios from the counts the cuts made and from
    * the last pass. */
  def layerCounts(c: Map[String, Double]): Map[String, Double]
}

trait Workload {
  def name: String
  def input(tiny: Boolean): InputSpec
  /** The query side's parameters; expected results are cached per value. */
  def query(tiny: Boolean): String
  def open(ctx: Ctx, docs: DataFrame, nDocs: Long): Bound
}

object Workloads {
  val all: Seq[Workload] = Seq(FlagshipTiles, PipLargePolygons, StagedPipeline)
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  /** Scan cut: read `cols` of the input and touch every row. */
  def scanCut(docs: DataFrame, cols: Seq[String]): Cut = Cut("spark.scan_s", () => {
    val n = docs.select(cols.map(col): _*).queryExecution.toRdd.mapPartitions { it =>
      var c = 0L
      while (it.hasNext) { it.next(); c += 1 }
      Iterator.single(c)
    }.reduce(_ + _)
    Map("scan_rows" -> n.toDouble)
  })

  def sortedLines(rows: Array[Row]): Seq[String] = rows.map(_.toSeq.mkString(",")).toSeq.sorted
}

/** The north-rule job: region × tile counts through the fused operator. */
object FlagshipTiles extends Workload {
  val name = "flagship_tiles"
  /** 200 clusters rather than DocSource's 20: how much of the input falls
    * in the fixed bench regions then hardly changes from seed to seed. */
  def input(tiny: Boolean): InputSpec =
    InputSpec("geo", if (tiny) 32000 else 8000000, 16, clusters = 200)
  def query(tiny: Boolean) = "bench-regions-tiles"

  def open(ctx: Ctx, docs: DataFrame, nDocs: Long): Bound = new Bound {
    private val regions = graft.Bench.benchRegions
    private val tiles = graft.Bench.benchTiles

    def expected(): Seq[String] = Workloads.sortedLines(
      S2Joins.tileAssign(S2Joins.broadcastContainsJoin(
        S2Joins.withCellId(docs, col("lat"), col("lng")), regions), tiles)
        .groupBy("qid", "tile_id").count().collect())

    def pass(): Seq[String] = Workloads.sortedLines(
      ctx.tracer.span("operators.regionTileCounts") {
        S2Joins.regionTileCounts(docs, regions, tiles).collect()
      })

    private lazy val regIndex = CellIntervalIndex.fromRegions(regions, 64)
    private lazy val tileIndex = CellIntervalIndex.build(
      tiles.map { case (id, cells) => (id, cells, Array.empty[Long]) })

    /** The fused pass's per-row loop, stopped after `level`: 0 scan,
      * 1 point and cell id, 2 interval stab, 3 exact refine, 4 tile
      * resolve. Counts: 0 rows, 1 checksum, 2 stab hits, 3 interior hits,
      * 4 refines, 5 matched, 6 tiled; 1 and 6 only keep the JIT from
      * dropping work whose result nothing else uses. */
    private def cut(level: Int): Map[String, Double] = {
      val spark = ctx.spark
      val regArr = regions.toArray
      val regByLabel = new Array[S2Region](regArr.map(_._1).max + 1)
      regArr.foreach { case (l, r) => regByLabel(l) = r }
      val bc = spark.sparkContext.broadcast((regIndex, tileIndex, regByLabel))
      val in = docs.select(col("lat").cast("double"), col("lng").cast("double"))
      val c = in.queryExecution.toRdd.mapPartitions { it =>
        val (rIdx, tIdx, regs) = bc.value
        val c = new Array[Long](7)
        while (it.hasNext) {
          val row = it.next()
          if (!row.isNullAt(0) && !row.isNullAt(1)) {
            val lat = row.getDouble(0); val lng = row.getDouble(1)
            c(0) += 1
            if (level == 0) c(1) ^= java.lang.Double.doubleToRawLongBits(lat + lng)
            else {
              val p = V3.fromLatLngDegrees(lat, lng)
              val cellId = S2CellId.fromPoint(p.x, p.y, p.z)
              val ord = S2CellId.orderKey(cellId)
              c(1) ^= ord
              if (level >= 2) {
                val seg = rIdx.segmentOf(ord)
                if (seg >= 0) {
                  var e = rIdx.entryBegin(seg)
                  val end = rIdx.entryEnd(seg)
                  var tiled = false
                  while (e < end) {
                    c(2) += 1
                    var hit = rIdx.interiorAt(e)
                    if (hit) c(3) += 1
                    else if (level >= 3) {
                      c(4) += 1
                      hit = regs(rIdx.labelAt(e)).contains(p)
                    }
                    if (hit && level >= 3) {
                      c(5) += 1
                      if (level >= 4 && !tiled) {
                        tiled = true
                        val ts = tIdx.segmentOf(ord)
                        if (ts >= 0) {
                          val b = tIdx.entryBegin(ts)
                          c(6) += (if (tIdx.entryEnd(ts) - b == 1) tIdx.labelAt(b)
                                   else tIdx.mostIntersecting(Array(cellId), -1))
                        }
                      }
                    }
                    e += 1
                  }
                }
              }
            }
          }
        }
        Iterator.single(c)
      }.reduce { (a, b) => Array.tabulate(7)(i => if (i == 1) a(i) ^ b(i) else a(i) + b(i)) }
      bc.destroy()
      Map("scan_rows" -> c(0).toDouble, "stab_hits" -> c(2).toDouble,
        "interior_hits" -> c(3).toDouble, "refines" -> c(4).toDouble,
        "matched" -> c(5).toDouble)
    }

    val cuts: Seq[Cut] = Seq(
      Cut("spark.scan_s", () => cut(0)),
      Cut("core.cellid_s", () => cut(1)),
      Cut("operators.stab_s", () => cut(2)),
      Cut("core.refine_s", () => cut(3)),
      Cut("operators.tile_s", () => cut(4)))
    val finalLayer = "operators.merge_s"

    def layerCounts(c: Map[String, Double]): Map[String, Double] = {
      val refines = c.getOrElse("refines", 0.0)
      val matched = c.getOrElse("matched", 0.0)
      val interior = c.getOrElse("interior_hits", 0.0)
      Map("operators.stab_hits" -> c.getOrElse("stab_hits", 0.0),
        "operators.interior_hits" -> interior,
        "operators.matched" -> matched,
        "core.refines" -> refines,
        "core.refine_yield" -> (if (refines > 0) (matched - interior) / refines else 0.0))
    }
  }
}

/** Term join of docs against three country-scale, non-convex polygons of
  * a few thousand vertices, given as text: brute-force refine heavy. */
object PipLargePolygons extends Workload {
  val name = "pip_large_polygons"
  def input(tiny: Boolean): InputSpec =
    if (tiny) InputSpec("full", 4000, 16) else InputSpec("full", 16000, 16)
  def vertices(tiny: Boolean): Int = if (tiny) 256 else 4096
  val MeanRadiusDeg = 3.0
  def query(tiny: Boolean) = s"star3-v${vertices(tiny)}-r$MeanRadiusDeg"

  /** Three seeded polygon centres on dense doc clusters, found in the
    * input's first file (which every subset of the input contains). */
  def centres(ctx: Ctx): Seq[(Double, Double)] = {
    val perFile = ctx.input.spec.docsPerFile
    val mod = math.max(1L, perFile / 250)
    val pts = ctx.input.read(ctx.spark, 1)
      .where(pmod(xxhash64(col("doc_id"), lit(ctx.seed)), lit(mod)) === 0)
      .select("lat", "lng").collect().map(r => (r.getDouble(0), r.getDouble(1)))
    def near(a: (Double, Double), b: (Double, Double), deg: Double) =
      math.abs(a._1 - b._1) < deg && math.abs(a._2 - b._2) < deg
    val ranked = pts.sortBy(p => (-pts.count(near(p, _, 1.0)), p._1, p._2))
    val picked = ranked.foldLeft(Vector.empty[(Double, Double)]) { (acc, p) =>
      if (acc.size < 3 && acc.forall(q => !near(p, q, 3 * MeanRadiusDeg))) acc :+ p else acc
    }
    require(picked.size == 3, s"found ${picked.size} polygon centres, need 3")
    picked
  }

  def polygons(ctx: Ctx): Seq[(Int, String)] = {
    val rnd = new scala.util.Random(ctx.seed * 31 + 7)
    centres(ctx).zipWithIndex.map { case ((lat, lng), i) =>
      (i + 1, Shapes.starText(lat, lng, MeanRadiusDeg, vertices(ctx.tiny), rnd))
    }
  }

  /** The query side of termPolygonJoin's candidate join. */
  def queryTerms(indexer: S2TermIndexer) =
    udf((t: String) => indexer.queryTerms(graft.functions.PolyCache.get(t)))

  def open(ctx: Ctx, docs: DataFrame, nDocs: Long): Bound = new Bound {
    import ctx.spark.implicits._
    private val polys = polygons(ctx)
    private val polyDf = polys.toDF("qid", "poly")
    private val indexer = new S2TermIndexer()

    /** Per polygon: matches, an xor of their doc-id hashes, and docs whose
      * span fingerprint no longer matches their spans. */
    private def summary(joined: DataFrame): Seq[String] = Workloads.sortedLines(
      joined.groupBy("qid").agg(count(lit(1)), expr("bit_xor(xxhash64(doc_id))"),
        sum(when(DocSource.spansFingerprint(col("spans")) =!= col("spans_fp"), 1).otherwise(0)))
        .collect())

    def expected(): Seq[String] = summary(S2Joins.broadcastContainsJoin(
      S2Joins.withCellId(docs, col("lat"), col("lng")),
      polys.map { case (q, t) => (q, S2TextFormat.parsePolygon(t): S2Region) }))

    def pass(): Seq[String] = ctx.tracer.span("operators.termPolygonJoin") {
      summary(S2Joins.termPolygonJoin(docs, polyDf))
    }

    private def slim = docs.select(col("doc_id"),
      col("lat").cast("double").as("lat"), col("lng").cast("double").as("lng"))
    private def candidates = S2Joins.docIndexTerms(slim, indexer)
      .join(polyDf.select(col("qid"), col("poly"),
        explode(queryTerms(indexer)(col("poly"))).as("term")), "term")

    val cuts: Seq[Cut] = Seq(
      Workloads.scanCut(docs, Seq("doc_id", "lat", "lng")),
      Cut("operators.terms_s", () =>
        Map("terms" -> S2Joins.docIndexTerms(slim, indexer).count().toDouble)),
      Cut("operators.candidates_s", () =>
        Map("candidate_pairs" -> candidates.count().toDouble)),
      Cut("core.refine_s", () => Map("matched" -> candidates
        .where(graft.functions.S2.polygonContains(col("poly"), col("lat"), col("lng")))
        .count().toDouble)))
    val finalLayer = "operators.payload_join_s"

    def layerCounts(c: Map[String, Double]): Map[String, Double] = {
      val pairs = c.getOrElse("candidate_pairs", 0.0)
      val matched = c.getOrElse("matched", 0.0)
      Map("operators.candidate_pairs" -> pairs, "core.refines" -> pairs,
        "operators.matched" -> matched,
        "core.refine_yield" -> (if (pairs > 0) matched / pairs else 0.0))
    }
  }
}

/** The compositional plan through StageRunner: every stage writes
  * parquet and a lineage manifest, and the spans payload rides along. */
object StagedPipeline extends Workload {
  val name = "staged_pipeline"
  def input(tiny: Boolean): InputSpec =
    if (tiny) InputSpec("full", 4000, 16) else InputSpec("full", 16000, 16)
  def query(tiny: Boolean) = "bench-regions-tiles"
  private val passes = new java.util.concurrent.atomic.AtomicInteger()

  def open(ctx: Ctx, docs: DataFrame, nDocs: Long): Bound = new Bound {
    private val regions = graft.Bench.benchRegions
    private val tiles = graft.Bench.benchTiles
    private var jobId = ""
    private var counts = Map.empty[String, Double]
    private def jobDir = ctx.work.resolve(jobId)

    private def checksum(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        coalesce(expr("bit_xor(_rh)"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    private def hashed(df: DataFrame) =
      df.withColumn("_rh", xxhash64(struct(df.columns.map(col).toIndexedSeq: _*)))

    /** Stage row counts and xor row checksums from the unwritten plan. */
    def expected(): Seq[String] = {
      val ingest = S2Joins.withCellId(docs, col("lat"), col("lng"))
      val joined = S2Joins.broadcastContainsJoin(ingest, regions)
      val tiled = S2Joins.tileAssign(joined, tiles)
      Seq("ingest" -> ingest, "pip_join" -> joined, "tile_assign" -> tiled).map {
        case (n, df) => val (rows, sum) = checksum(hashed(df)); s"$n,$rows,$sum"
      } :+ "fp_violations,0"
    }

    def pass(): Seq[String] = {
      jobId = s"pass-${passes.incrementAndGet()}"
      val runner = new StageRunner(ctx.spark, ctx.work.toString, jobId)
      val tr = ctx.tracer
      val ingest = tr.span("runtime.stage_ingest") {
        runner.stage("ingest")(S2Joins.withCellId(docs, col("lat"), col("lng")))
      }
      val joined = tr.span("runtime.stage_join") {
        runner.stage("pip_join")(S2Joins.broadcastContainsJoin(ingest, regions))
      }
      val tiled = tr.span("runtime.stage_tile") {
        runner.stage("tile_assign")(S2Joins.tileAssign(joined, tiles))
      }
      val fp = tr.span("runtime.fp_check") {
        tiled.where(DocSource.spansFingerprint(col("spans")) =!= col("spans_fp")).count()
      }
      runner.results.map(r => s"${r.name},${r.rows},${r.checksum}").toSeq :+ s"fp_violations,$fp"
    }

    override def afterPass(): Unit = {
      val files = IO.treeFiles(jobDir)
      val bytes = files.map(java.nio.file.Files.size).sum.toDouble
      counts = Map("runtime.bytes_written" -> bytes,
        "runtime.files_written" -> files.size.toDouble,
        "runtime.write_bytes_per_doc" -> bytes / nDocs)
      IO.rmTree(jobDir)
    }

    val cuts: Seq[Cut] = Seq(Workloads.scanCut(docs, docs.columns.toSeq))
    val finalLayer = "runtime.stages_s"
    def layerCounts(c: Map[String, Double]): Map[String, Double] = counts
  }
}

object Shapes {
  /** A star-shaped, non-convex loop around (lat, lng) as S2 text, CCW:
    * its radius swings between about 0.46× and 1.5× `radiusDeg`. */
  def starText(lat: Double, lng: Double, radiusDeg: Double, n: Int,
               rnd: scala.util.Random): String =
    starPoints(lat, lng, radiusDeg, n, rnd)
      .map { case (a, b) => f"$a%.7f:$b%.7f" }.mkString(", ")

  def starPoints(lat: Double, lng: Double, radiusDeg: Double, n: Int,
                 rnd: scala.util.Random): Seq[(Double, Double)] = {
    val ph = Array.fill(3)(rnd.nextDouble() * 2 * math.Pi)
    val cosLat = math.cos(math.toRadians(lat))
    (0 until n).map { i =>
      val t = 2 * math.Pi * i / n
      val r = radiusDeg * (1 + 0.3 * math.sin(3 * t + ph(0)) +
        0.15 * math.sin(7 * t + ph(1)) + 0.07 * math.sin(19 * t + ph(2))) *
        (1 + 0.04 * (rnd.nextDouble() - 0.5))
      (lat + r * math.sin(t), lng + r * math.cos(t) / cosLat)
    }
  }
}
