package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import scala.collection.mutable.ArrayBuffer

/** Minimal JSON writer for the result line, result files and spans. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case m: scala.collection.Map[_, _] =>
      m.iterator.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case a: Array[_] => render(a.toSeq)
    case s: Iterable[_] => s.iterator.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** In-memory spans around the harness's calls into each layer: name,
  * start, end and parent. Disabled tracers cost one branch per call. */
final class Tracer(var on: Boolean) {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)
  private val done = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var next = 0
  private val t0 = System.nanoTime()

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = next; next += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val s = System.nanoTime()
      try body
      finally {
        done += Span(id, parent, name, s - t0, System.nanoTime() - t0)
        stack = stack.tail
      }
    }

  def spans: Seq[Span] = done.toSeq.sortBy(_.id)

  def json: Seq[Map[String, Any]] = spans.map(s =>
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_s" -> s.startNs / 1e9, "end_s" -> s.endNs / 1e9))
}

/** Task metrics per tagged pass, read from a SparkListener. A pass is
  * tagged through the `perfbench.tag` local property, which every job it
  * starts carries. */
final class TaskStats extends SparkListener {
  final case class Task(stage: Int, runMs: Long, cpuNs: Long, gcMs: Long,
                        inputRows: Long, shuffleWriteBytes: Long, spillBytes: Long)
  private val stageTag = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Task]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(TaskStats.Tag)))
    tag.foreach(t => e.stageIds.foreach(s => stageTag.put(s, t)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Task(e.stageId, m.executorRunTime, m.executorCpuTime,
      m.jvmGCTime, m.inputMetrics.recordsRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  /** Per-tag totals; `skew` is slowest ÷ median task of the tag's busiest
    * stage. */
  def byTag(sc: SparkContext): Map[String, Map[String, Double]] = {
    org.apache.spark.sql.graftbridge.ListenerBridge.waitUntilListenersProcessed(sc)
    import scala.jdk.CollectionConverters._
    val all = tasks.asScala.toSeq.flatMap(t => Option(stageTag.get(t.stage)).map(_ -> t))
    all.groupBy(_._1).map { case (tag, ts) =>
      val xs = ts.map(_._2)
      val busiest = xs.groupBy(_.stage).values.maxBy(_.map(_.runMs).sum)
      val runs = busiest.map(_.runMs.toDouble).sorted
      tag -> Map(
        "task_cpu_s" -> xs.map(_.cpuNs).sum / 1e9,
        "gc_s" -> xs.map(_.gcMs).sum / 1e3,
        "input_rows" -> xs.map(_.inputRows).sum.toDouble,
        "shuffle_write_bytes" -> xs.map(_.shuffleWriteBytes).sum.toDouble,
        "spill_bytes" -> xs.map(_.spillBytes).sum.toDouble,
        "task_skew" -> runs.last / math.max(1.0, Stats.median(runs)))
    }
  }
}

object TaskStats { val Tag = "perfbench.tag" }

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
