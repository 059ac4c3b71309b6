package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** Closed-loop benchmark of one workload: a single client runs passes
  * back to back against `local[nproc]` in this JVM and checks each pass
  * against a result computed once, by an independent path, per input.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  [--size bench|tiny] [--corrupt-expected]
  *
  * `--trace 0` prints the end-to-end metrics, `--trace 1` the per-layer
  * ones, as the last stdout line:
  *   {"correct":…,"attempted":…,"failed":…,"metrics":{name:{value,unit}}}
  * A run-stamped result file with host facts, pass times and skipped
  * phases goes to perfbench/results/.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        tiny: Boolean, corruptExpected: Boolean)

  val EndToEnd: Seq[(String, String)] = Seq(
    "docs_per_s" -> "docs/s", "scaling_eff" -> "ratio", "setup_s" -> "s")

  val PerLayer: Seq[(String, String)] = Seq(
    "spark.scan_s" -> "s", "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.cpu_util" -> "ratio", "spark.input_rows" -> "count",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.task_skew" -> "ratio",
    "core.fromPoint_ns" -> "ns", "core.toPoint_ns" -> "ns",
    "core.pip_ns_v4" -> "ns", "core.pip_ns_v64" -> "ns", "core.pip_ns_v1k" -> "ns",
    "core.pip_ns_v16k" -> "ns", "core.cover_us" -> "us",
    "core.cellid_s" -> "s", "core.refine_s" -> "s", "core.refines" -> "count",
    "core.refine_yield" -> "ratio",
    "operators.index_build_ms" -> "ms", "operators.stab_ns" -> "ns",
    "operators.stab_s" -> "s", "operators.tile_s" -> "s", "operators.merge_s" -> "s",
    "operators.terms_s" -> "s", "operators.candidates_s" -> "s",
    "operators.payload_join_s" -> "s",
    "operators.stab_hits" -> "count", "operators.interior_hits" -> "count",
    "operators.candidate_pairs" -> "count", "operators.matched" -> "count",
    "functions.polycache_parse_ms" -> "ms", "functions.polycache_get_ns" -> "ns",
    "runtime.stage_ingest_s" -> "s", "runtime.stage_join_s" -> "s",
    "runtime.stage_tile_s" -> "s", "runtime.fp_check_s" -> "s", "runtime.stages_s" -> "s",
    "runtime.bytes_written" -> "bytes", "runtime.files_written" -> "count",
    "runtime.write_bytes_per_doc" -> "bytes/doc",
    "sources.input_gen_s" -> "s", "sources.input_reused" -> "count",
    "host.alu_gops" -> "Gop/s", "host.rss_peak_mb" -> "MB",
    "trace.overhead_frac" -> "ratio")

  /** Set-ups per untraced run; setup_s is their median. */
  val SetupReps = 3
  /** The traced run's layer self-times must sum to within this share of
    * the untraced median pass (checked on flagship_tiles). */
  val ReconcileTolerance = 0.15
  /** Untimed passes after set-up, for this share of `--seconds`: at
    * local[nproc] the JIT compiler shares the cores with the tasks, and
    * pass times settle only after several seconds of passes. */
  val WarmShare = 0.5
  /** Fewest timed pairs an untraced run makes: the median of five keeps
    * two slow passes out of the figure where `--seconds` fits fewer. */
  val TimedPairs = 5
  /** Fewest pass-and-cut rounds a traced run makes. */
  val TracedRounds = 5

  def parse(argv: Array[String]): Either[String, Args] = {
    val kv = scala.collection.mutable.Map.empty[String, String]
    var flags = Set.empty[String]
    var i = 0
    while (i < argv.length) {
      argv(i) match {
        case "--corrupt-expected" => flags += "corrupt"; i += 1
        case k if k.startsWith("--") && i + 1 < argv.length => kv(k.drop(2)) = argv(i + 1); i += 2
        case k => return Left(s"unexpected argument $k")
      }
    }
    def need(k: String) = kv.get(k).toRight(s"missing --$k")
    for {
      w <- need("workload")
      _ <- Workloads.byName(w).toRight(s"unknown workload $w (${Workloads.all.map(_.name).mkString(", ")})")
      seed <- need("seed").flatMap(s => s.toLongOption.toRight(s"bad --seed $s"))
      secs <- need("seconds").flatMap(s => s.toIntOption.filter(_ > 0).toRight(s"bad --seconds $s"))
      trace <- need("trace").flatMap {
        case "0" => Right(false); case "1" => Right(true); case t => Left(s"bad --trace $t")
      }
      size <- Right(kv.getOrElse("size", "bench"))
      _ <- if (size == "bench" || size == "tiny") Right(()) else Left(s"bad --size $size")
    } yield Args(w, seed, secs, trace, size == "tiny", flags("corrupt"))
  }

  def main(argv: Array[String]): Unit = parse(argv) match {
    case Left(err) =>
      System.err.println(s"perfbench: $err"); sys.exit(2)
    case Right(a) =>
      val code = try new Run(a).run() catch {
        case NonFatal(e) => e.printStackTrace(); 1
      }
      sys.exit(code)
  }
}

final class Run(a: Main.Args) {
  import Main._
  private val root: Path = Paths.get(sys.props.getOrElse("perfbench.root", ".")).toAbsolutePath.normalize
  private val bench = root.resolve("perfbench")
  private val dataRoot = bench.resolve(".data")
  private val stamp = java.time.LocalDateTime.now()
    .format(java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd-HHmmss")) +
    s"-${ProcessHandle.current().pid()}"
  private val work = Paths.get(sys.props.getOrElse("perfbench.work",
    bench.resolve(".work").resolve(stamp).toString))
  private val wl = Workloads.byName(a.workload).get
  private val spec = wl.input(a.tiny)
  private val cores = Runtime.getRuntime.availableProcessors()
  private val subFiles = math.max(1, spec.files / cores)
  private val tracer = new Tracer(a.trace)
  private val skipped = ArrayBuffer.empty[(String, String)]
  private val notes = ArrayBuffer.empty[String]
  private var attempted = 0
  private var failed = 0
  private val mismatches = ArrayBuffer.empty[String]
  private val timings = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]

  private def log(s: String): Unit = println(s"[perfbench] $s")

  private def session(n: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def ctx(spark: SparkSession, input: CachedInput) =
    Ctx(spark, a.seed, a.tiny, input, work.resolve("stages"), tracer)

  /** Run one pass, compare it with `expected`, return its wall seconds. */
  private def pass(b: Bound, expected: Seq[String]): Double = {
    attempted += 1
    val t0 = System.nanoTime()
    val ok = try {
      val got = b.pass()
      if (got != expected && mismatches.size < 5)
        mismatches += s"got ${got.take(3).mkString(" | ")} … expected ${expected.take(3).mkString(" | ")}"
      got == expected
    } catch {
      case NonFatal(e) =>
        mismatches += s"pass failed: $e"; e.printStackTrace(); false
    }
    val dt = (System.nanoTime() - t0) / 1e9
    b.afterPass()
    if (!ok) failed += 1
    dt
  }

  def run(): Int = {
    Files.createDirectories(work)
    runIn()
  }

  private def runIn(): Int = {
    val alu0 = Host.aluGops()
    val key = spec.key(a.seed)
    notes ++= Inputs.hygiene(dataRoot, key)
    Inputs.preflight(spec, dataRoot, Runtime.getRuntime.maxMemory(),
      Inputs.complete(dataRoot.resolve(key))).foreach { reason =>
      skipped += (a.workload -> reason)
      writeResult(Map.empty, Map.empty)
      System.err.println(s"perfbench: skipped ${a.workload}: $reason")
      return 3
    }

    // ---- input and expected results: built once per (generator, seed, size)
    var gen: SparkSession = null
    def genSession() = { if (gen == null) gen = session(cores); gen }
    val (input, genNow) = Inputs.ensure(dataRoot, spec, a.seed, () => genSession())
    for ((part, nf) <- Seq("full" -> spec.files, "sub" -> subFiles)
         if !Files.exists(input.expected(wl.name, wl.query(a.tiny), part))) {
      val t0 = System.nanoTime()
      val s = genSession()
      val b = wl.open(ctx(s, input), input.read(s, nf), spec.docsPerFile * nf)
      IO.writeAtomic(input.expected(wl.name, wl.query(a.tiny), part), b.expected().mkString("\n"))
      input.addGenSeconds((System.nanoTime() - t0) / 1e9)
    }
    if (gen != null) gen.stop()
    input.touch()
    val reused = genNow == 0.0
    log(s"input ${input.dir.getFileName} (${if (reused) "reused" else f"generated in $genNow%.1f s"})")

    def expected(part: String): Seq[String] = {
      val e = IO.readLines(input.expected(wl.name, wl.query(a.tiny), part))
      if (a.corruptExpected) (e.head + ",corrupted") +: e.tail else e
    }

    val metrics =
      if (a.trace) traced(input, expected("full"), reused, alu0)
      else untraced(input, expected("full"), expected("sub"), alu0)
    val ok = failed == 0 && attempted > 0 && mismatches.isEmpty
    writeResult(metrics.map { case (k, (v, _)) => k -> v }.toMap, Map("correct" -> ok))
    mismatches.foreach(m => log(s"MISMATCH $m"))
    metrics.foreach { case (k, (v, u)) => log(f"$k%-30s $v%.6g $u") }
    val line = ListMap(
      "correct" -> ok, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> ListMap(metrics.map { case (k, (v, u)) =>
        k -> ListMap("value" -> v, "unit" -> u) }: _*))
    println(Json.render(line))
    0
  }

  /** End-to-end run: SetupReps set-ups, then pairs of passes in the last
    * session, one over the whole input at local[nproc] and one over its
    * first 1/nproc with every stage in a single task, which is the
    * executor work of a local[1] run. Alternating the two cancels drift
    * in the host's speed out of scaling_eff. */
  private def untraced(input: CachedInput, expFull: Seq[String], expSub: Seq[String],
                       alu0: Double): Seq[(String, (Double, String))] = {
    val setups = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var hi: Bound = null
    for (i <- 1 to SetupReps) {
      val t0 = System.nanoTime()
      spark = session(cores)
      hi = wl.open(ctx(spark, input), input.read(spark, spec.files), spec.docs)
      IO.warm(input.files)
      pass(hi, expFull)
      setups += (System.nanoTime() - t0) / 1e9
      if (i < SetupReps) spark.stop()
    }
    val nSub = spec.docsPerFile * subFiles
    val lo = wl.open(ctx(spark, input), input.read(spark, subFiles), nSub)
    def pairs(seconds: Double, min: Int): Seq[(Double, Double)] = {
      val end = System.nanoTime() + (seconds * 1e9).toLong
      val out = ArrayBuffer.empty[(Double, Double)]
      while (out.size < min || System.nanoTime() < end)
        out += ((pass(hi, expFull), oneTask(spark)(pass(lo, expSub))))
      out.toSeq
    }
    pairs(WarmShare * a.seconds, 1)
    val timed = pairs(a.seconds, TimedPairs)
    spark.stop()

    val (his, los) = timed.unzip
    timings ++= Seq("setups_s" -> setups.toSeq, "passes_s" -> his, "one_task_passes_s" -> los)
    val hiRate = spec.docs / Stats.median(his)
    val eff = Stats.median(timed.map { case (h, l) => (spec.docs / h) / (cores * nSub / l) })
    log(f"set-ups ${setups.map(s => f"$s%.2f").mkString(" ")} s; local[$cores] passes " +
      f"${his.map(s => f"$s%.3f").mkString(" ")}; one-task passes ${los.map(s => f"$s%.3f").mkString(" ")}; " +
      f"alu ${alu0}%.2f→${Host.aluGops()}%.2f Gop/s")
    Seq("docs_per_s" -> hiRate, "scaling_eff" -> eff, "setup_s" -> Stats.median(setups.toSeq))
      .map { case (k, v) => k -> (v, EndToEnd.toMap.apply(k)) }
  }

  /** Run `body` with every stage in one task: one scan split, one shuffle
    * partition. */
  private def oneTask[T](spark: SparkSession)(body: => T): T = {
    val one = Seq("spark.sql.shuffle.partitions" -> "1", "spark.sql.files.minPartitionNum" -> "1",
      "spark.sql.files.maxPartitionBytes" -> "1g")
    val saved = one.map { case (k, _) => k -> spark.conf.getOption(k) }
    one.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def timedPasses(b: Bound, exp: Seq[String], seconds: Double, min: Int): Seq[Double] = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    val out = ArrayBuffer.empty[Double]
    while (out.size < min || System.nanoTime() < end) out += pass(b, exp)
    out.toSeq
  }

  /** Per-layer run, in rounds of the cumulative cuts, the last cut being
    * a traced pass, and an untraced pass right beside it: before it in
    * even rounds and after it in odd ones, so that drift in the host's
    * speed and the JIT's warm-up cancel out of the tracing overhead. */
  private def traced(input: CachedInput, exp: Seq[String], reused: Boolean,
                     alu0: Double): Seq[(String, (Double, String))] = {
    skipped += ("one-task passes" -> "scaling_eff is end-to-end; traced runs measure layers at local[nproc] only")
    val spark = session(cores)
    val stats = new TaskStats
    spark.sparkContext.addSparkListener(stats)
    val b = wl.open(ctx(spark, input), input.read(spark, spec.files), spec.docs)
    IO.warm(input.files)
    tracer.on = false
    timedPasses(b, exp, 2 * WarmShare * a.seconds, 2)

    val untracedT = ArrayBuffer.empty[Double]
    val tracedT = ArrayBuffer.empty[Double]
    val cutT = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
    val counts = scala.collection.mutable.Map.empty[String, Double]
    def untracedPass(): Unit = { tracer.on = false; untracedT += pass(b, exp); tracer.on = true }
    val end = System.nanoTime() + (a.seconds * 1e9).toLong
    var n = 0
    while (n < TracedRounds || System.nanoTime() < end) {
      tracer.span("round") {
        for (c <- b.cuts) {
          val t0 = System.nanoTime()
          counts ++= tracer.span(s"cut ${c.layer}")(c.run())
          cutT.getOrElseUpdate(c.layer, ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
        }
        if (n % 2 == 0) untracedPass()
        spark.sparkContext.setLocalProperty(TaskStats.Tag, s"pass$n")
        tracedT += tracer.span("pass")(pass(b, exp))
        spark.sparkContext.setLocalProperty(TaskStats.Tag, null)
        cutT.getOrElseUpdate(b.finalLayer, ArrayBuffer.empty) += tracedT.last
        if (n % 2 == 1) untracedPass()
      }
      n += 1
    }
    val perPass = stats.byTag(spark.sparkContext)
    spark.stop()
    val kernels = Kernels.run(a.tiny, tracer)

    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    PerLayer.foreach { case (k, _) => out(k) = 0.0 }
    // layer self-times from the cumulative cut medians
    var prev = 0.0
    cutT.foreach { case (layer, ts) =>
      val m = Stats.median(ts.toSeq)
      out(layer) = m - prev
      prev = m
    }
    val layerSum = prev
    val untracedMedian = Stats.median(untracedT.toSeq)
    // listener figures, median over the traced passes
    val tags = perPass.keys.toSeq.filter(_.startsWith("pass")).sorted
    for (m <- Seq("task_cpu_s", "gc_s", "input_rows", "shuffle_write_bytes", "spill_bytes", "task_skew")
         if tags.nonEmpty)
      out(s"spark.$m") = Stats.median(tags.map(perPass(_)(m)))
    if (tags.nonEmpty)
      out("spark.cpu_util") = Stats.median(tags.map { t =>
        perPass(t)("task_cpu_s") / (tracedT(t.stripPrefix("pass").toInt) * cores)
      })
    // span medians of the runtime stages
    tracer.spans.filter(_.name.startsWith("runtime.")).groupBy(_.name).foreach { case (name, ss) =>
      out(name + "_s") = Stats.median(ss.map(s => (s.endNs - s.startNs) / 1e9))
    }
    out ++= b.layerCounts(counts.toMap)
    out ++= kernels
    out("sources.input_gen_s") = input.genSeconds
    out("sources.input_reused") = if (reused) 1.0 else 0.0
    out("host.alu_gops") = (alu0 + Host.aluGops()) / 2
    out("host.rss_peak_mb") = Host.rssPeakMb
    // the traced pass is the last cut, so the self times sum to its
    // median: the overhead is also how far they miss the untraced pass
    out("trace.overhead_frac") = layerSum / untracedMedian - 1

    timings ++= Seq("untraced_passes_s" -> untracedT.toSeq, "traced_passes_s" -> tracedT.toSeq) ++
      cutT.map { case (k, v) => s"cut $k" -> v.toSeq }
    log(f"untraced passes ${untracedT.map(s => f"$s%.3f").mkString(" ")}; traced " +
      f"${tracedT.map(s => f"$s%.3f").mkString(" ")}; $n rounds")
    if (wl == FlagshipTiles && a.tiny)
      skipped += ("layer reconciliation" -> ("tiny passes are a few ms of work beside Spark's " +
        "per-job overhead, so their medians differ by more than the tolerance by chance"))
    else if (wl == FlagshipTiles && math.abs(layerSum / untracedMedian - 1) > ReconcileTolerance)
      mismatches += f"layer self-times sum to $layerSum%.3f s, untraced median pass is " +
        f"$untracedMedian%.3f s (tolerance ${ReconcileTolerance * 100}%.0f %%)"
    val unknown = out.keySet -- PerLayer.map(_._1)
    require(unknown.isEmpty, s"metrics missing from the per-layer list: $unknown")
    PerLayer.map { case (k, u) => k -> (out(k), u) }
  }

  private def writeResult(metrics: Map[String, Double], extra: Map[String, Any]): Unit = {
    val sparkVersion = org.apache.spark.SPARK_VERSION
    val doc = ListMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "size" -> (if (a.tiny) "tiny" else "bench"),
      "stamp" -> stamp,
      "host" -> ListMap(
        "nproc" -> cores, "mem_total_bytes" -> Host.memTotalBytes,
        "disk_free_bytes" -> Files.getFileStore(bench).getUsableSpace,
        "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
        "max_heap_bytes" -> Runtime.getRuntime.maxMemory(),
        "spark" -> sparkVersion,
        "commit" -> sys.props.getOrElse("perfbench.commit", "unknown"),
        "source_sha256" -> sys.props.getOrElse("perfbench.source", "unknown")),
      "input" -> ListMap("key" -> spec.key(a.seed), "docs" -> spec.docs, "files" -> spec.files,
        "subset_files" -> subFiles),
      "notes" -> notes.toSeq,
      "skipped" -> skipped.map { case (p, r) => ListMap("phase" -> p, "reason" -> r) }.toSeq,
      "attempted" -> attempted, "failed" -> failed, "mismatches" -> mismatches.toSeq,
      "timings" -> timings,
      "metrics" -> ListMap(metrics.toSeq.sortBy(_._1): _*),
      "spans" -> tracer.json) ++ extra
    val name = s"${a.workload}-trace${if (a.trace) 1 else 0}-seed${a.seed}-$stamp.json"
    IO.writeAtomic(bench.resolve("results").resolve(name), Json.render(doc) + "\n")
  }
}
