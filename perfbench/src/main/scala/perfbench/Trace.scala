package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** One timed interval. `parent` is the enclosing span's id (0 at the top)
  * and `trace` is shared by every span of one run. */
final case class Span(id: Long, parent: Long, trace: String, layer: String,
    name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder for the single client thread. Every call is timed, since
  * the end-to-end metrics need the durations; spans are kept (in memory,
  * written out at the end) only when tracing is on. */
final class Tracer(val on: Boolean, val trace: String) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Long] = List(0L)
  private var nextId = 1L

  /** Run `body` and return it with its wall seconds. */
  def timed[A](layer: String, name: String)(body: => A): (A, Double) = {
    val id = nextId; nextId += 1
    stack = id :: stack
    val t0 = System.nanoTime()
    try {
      val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    } finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      if (on) spans += Span(id, stack.head, trace, layer, name, t0, t1)
    }
  }
  def span[A](layer: String, name: String)(body: => A): A = timed(layer, name)(body)._1

  def all: Seq[Span] = spans.toSeq

  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val lines = spans.sortBy(_.startNs).map { s =>
      Json.obj(Seq("id" -> Json.num(s.id), "parent" -> Json.num(s.parent),
        "trace" -> Json.str(s.trace), "layer" -> Json.str(s.layer),
        "name" -> Json.str(s.name), "start_ns" -> Json.num(s.startNs),
        "end_ns" -> Json.num(s.endNs)))
    }
    Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

/** Sums of Spark's own task metrics, read from the listener bus. */
final class SparkMeter extends SparkListener {
  @volatile var jobs = 0L
  @volatile var tasks = 0L
  @volatile var runNs = 0L
  @volatile var cpuNs = 0L
  @volatile var gcMs = 0L
  @volatile var shuffleWrite = 0L
  @volatile var shuffleRead = 0L
  @volatile var spill = 0L
  @volatile var input = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runNs += m.executorRunTime * 1000000L
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.diskBytesSpilled
      input += m.inputMetrics.bytesRead
    }
  }

  def snapshot: Map[String, Double] = synchronized {
    Map("spark.jobs" -> jobs.toDouble, "spark.tasks" -> tasks.toDouble,
      "spark.executor_run_s" -> runNs / 1e9, "spark.executor_cpu_s" -> cpuNs / 1e9,
      "spark.gc_s" -> gcMs / 1e3, "spark.shuffle_write_mb" -> shuffleWrite / Mb,
      "spark.shuffle_read_mb" -> shuffleRead / Mb, "spark.spill_mb" -> spill / Mb,
      "spark.input_mb" -> input / Mb)
  }

  private val Mb = 1024.0 * 1024.0
}

/** Minimal JSON writing; values are pre-rendered strings. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null"
    else if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString
    else x.toString
  def num(x: Long): String = x.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
