package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.sources.DocSource
import scala.jdk.CollectionConverters._

/** One generated input table: `gen` is "geo" (doc_id, lat, lng) or "full"
  * (the whole DocSource row, spans included), with 80 % of the docs in
  * `clusters` seeded caps. It is written as `files` parquet files in id
  * order, so the first `files / k` files hold exactly the docs DocSource
  * generates for `docs / k`. */
final case class InputSpec(gen: String, docs: Long, files: Int, clusters: Int = 20) {
  require(gen == "geo" || gen == "full", s"unknown generator $gen")
  require(docs % files == 0, "docs must split evenly over files")
  def key(seed: Long): String = s"$gen-s$seed-n$docs-f$files-c$clusters"
  /** Parquet bytes per doc, measured on this generator, with headroom. */
  def estBytes: Long = docs * (if (gen == "geo") 30L else 160L)
  def docsPerFile: Long = docs / files
}

/** A complete cached input and the expected results stored beside it. */
final class CachedInput(val dir: Path, val spec: InputSpec) {
  def dataDir: Path = dir.resolve("docs")
  def files: Seq[Path] = IO.list(dataDir).filter(_.getFileName.toString.endsWith(".parquet")).sorted
  def read(spark: SparkSession, nFiles: Int): DataFrame =
    if (nFiles >= spec.files) spark.read.parquet(dataDir.toString)
    else spark.read.parquet(files.take(nFiles).map(_.toString): _*)
  def expected(workload: String, query: String, part: String): Path =
    dir.resolve(s"expected-$workload-$query-$part.txt")
  def genSeconds: Double =
    IO.readLines(dir.resolve("_META")).collectFirst {
      case l if l.startsWith("input_gen_s=") => l.stripPrefix("input_gen_s=").toDouble
    }.getOrElse(0.0)
  def addGenSeconds(s: Double): Unit =
    IO.writeAtomic(dir.resolve("_META"), s"input_gen_s=${genSeconds + s}\n")
  def touch(): Unit = IO.writeAtomic(dir.resolve("_USED"), System.currentTimeMillis().toString)
}

/** Input cache under `<root>`: one directory per (generator, seed, size).
  * A directory counts as complete only when its parquet `_SUCCESS` marker
  * exists; anything else is a leftover of a killed run and is removed
  * before this run touches the cache. */
object Inputs {
  /** Cache budget; least recently used complete inputs beyond it are
    * removed at start, never the one this run uses. */
  val CacheCapBytes: Long = 3L << 30

  def complete(dir: Path): Boolean = Files.exists(dir.resolve("docs").resolve("_SUCCESS"))

  /** Remove partial inputs and evict old ones. Returns what it removed. */
  def hygiene(root: Path, keep: String): Seq[String] = {
    Files.createDirectories(root)
    val (done, partial) = IO.list(root).filter(Files.isDirectory(_)).partition(complete)
    partial.foreach(IO.rmTree)
    val byAge = done.filter(_.getFileName.toString != keep)
      .sortBy(d => -Files.getLastModifiedTime(
        if (Files.exists(d.resolve("_USED"))) d.resolve("_USED") else d).toMillis)
    var total = done.filter(_.getFileName.toString == keep).map(IO.treeBytes).sum
    val evicted = byAge.filter { d =>
      total += IO.treeBytes(d)
      total > CacheCapBytes
    }
    evicted.foreach(IO.rmTree)
    partial.map(p => s"removed partial input ${p.getFileName}") ++
      evicted.map(p => s"evicted input ${p.getFileName}")
  }

  /** Why this input cannot run here, if it cannot: it must fit the free
    * disk twice over and the page cache beside the JVM heap. */
  def preflight(spec: InputSpec, root: Path, heapBytes: Long, cached: Boolean): Option[String] = {
    val free = Files.getFileStore(root).getUsableSpace
    val avail = Host.memAvailableBytes
    val need = spec.estBytes
    if (!cached && free < 2 * need + (1L << 30))
      Some(f"free disk ${free / 1e9}%.1f GB < 2 x ${need / 1e9}%.2f GB input + 1 GB")
    else if (avail > 0 && avail < need + heapBytes)
      Some(f"available RAM ${avail / 1e9}%.1f GB cannot hold the ${need / 1e9}%.2f GB input " +
        f"beside a ${heapBytes / 1e9}%.1f GB heap")
    else None
  }

  /** The cached input for (spec, seed), generating it first if needed.
    * Returns it with the generation seconds spent in this call. */
  def ensure(root: Path, spec: InputSpec, seed: Long,
             session: () => SparkSession): (CachedInput, Double) = {
    val dir = root.resolve(spec.key(seed))
    if (complete(dir)) return (new CachedInput(dir, spec), 0.0)
    val t0 = System.nanoTime()
    val tmp = root.resolve(s"${spec.key(seed)}.tmp-${ProcessHandle.current().pid()}")
    IO.rmTree(tmp)
    val spark = session()
    val all = DocSource.docs(spark, spec.docs, seed, nClusters = spec.clusters,
      parallelism = spec.files)
    val df = if (spec.gen == "geo") all.select(col("doc_id"), col("lat"), col("lng")) else all
    df.write.parquet(tmp.resolve("docs").toString)
    Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
    val secs = (System.nanoTime() - t0) / 1e9
    val in = new CachedInput(dir, spec)
    in.addGenSeconds(secs)
    (in, secs)
  }
}

object IO {
  def list(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.toList finally s.close()
    }

  def rmTree(p: Path): Unit = if (Files.exists(p)) {
    if (Files.isDirectory(p)) list(p).foreach(rmTree)
    Files.deleteIfExists(p)
  }

  def treeFiles(p: Path): Seq[Path] =
    if (Files.isDirectory(p)) list(p).flatMap(treeFiles) else if (Files.exists(p)) Seq(p) else Nil

  def treeBytes(p: Path): Long = treeFiles(p).map(Files.size).sum

  def readLines(p: Path): Seq[String] =
    if (Files.exists(p)) Files.readAllLines(p, UTF_8).asScala.toSeq else Nil

  /** Write through a temp file and an atomic rename, so a killed run
    * leaves either the old file or the new one, never a torn one. */
  def writeAtomic(p: Path, content: String): Unit = {
    Files.createDirectories(p.getParent)
    val tmp = p.resolveSibling(s".${p.getFileName}.tmp-${ProcessHandle.current().pid()}")
    Files.write(tmp, content.getBytes(UTF_8))
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Read every byte of the files once, so the timed passes start from a
    * warm page cache. Returns the bytes read. */
  def warm(files: Seq[Path]): Long = {
    val buf = java.nio.ByteBuffer.allocate(1 << 20)
    files.map { f =>
      val ch = java.nio.channels.FileChannel.open(f)
      try {
        var n = 0L; var r = 0
        while ({ buf.clear(); r = ch.read(buf); r > 0 }) n += r
        n
      } finally ch.close()
    }.sum
  }
}

/** Facts about the machine a result was measured on. */
object Host {
  private def meminfo(key: String): Long =
    IO.readLines(java.nio.file.Paths.get("/proc/meminfo")).collectFirst {
      case l if l.startsWith(key + ":") => l.split("\\s+")(1).toLong * 1024
    }.getOrElse(-1L)
  def memTotalBytes: Long = meminfo("MemTotal")
  def memAvailableBytes: Long = meminfo("MemAvailable")

  /** Peak resident set of this process (VmHWM), in MB. */
  def rssPeakMb: Double =
    IO.readLines(java.nio.file.Paths.get("/proc/self/status")).collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong / 1024.0
    }.getOrElse(Runtime.getRuntime.totalMemory() / 1048576.0)

  /** Single-thread integer throughput in giga-ops/s (a splitmix loop),
    * taken beside each run so that a noisy interval shows. */
  @volatile private var sink = 0L

  def aluGops(ms: Long = 150): Double = {
    var z = 0x9E3779B97F4A7C15L; var acc = 0L; var n = 0L
    val t0 = System.nanoTime(); val end = t0 + ms * 1000000L
    while (System.nanoTime() < end) {
      var i = 0
      while (i < 100000) {
        z += 0x9E3779B97F4A7C15L
        var m = z
        m = (m ^ (m >>> 30)) * 0xBF58476D1CE4E5B9L
        m = (m ^ (m >>> 27)) * 0x94D049BB133111EBL
        acc += m ^ (m >>> 31); i += 1
      }
      n += 100000
    }
    sink = acc
    n / ((System.nanoTime() - t0) / 1e9) / 1e9
  }
}
