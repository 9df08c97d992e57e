package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.{Success, SparkContext}
import org.apache.spark.scheduler._

/** In-memory spans for a traced run: run → setup → {session, tables,
  * builder×N, warm-up} → pass → query → {construct, plan, exec}. A span
  * is opened and closed around a call into the program; Spark work is
  * attributed to the span named by the `perfbench.span` local property of
  * the thread that submitted the job (see [[Counts]]). Everything stays in
  * memory and is written out once, when the run ends.
  */
final class Trace(enabled: Boolean) {
  import Trace._

  private val spans = ArrayBuffer.empty[Span]
  val counts = new ConcurrentHashMap[Int, Counts]()
  /** Span for jobs submitted without a span property (threads the program
    * starts itself): the phase the main thread is in. */
  @volatile var fallback: Int = Unattributed

  def begin(name: String, parent: Int): Int = spans.synchronized {
    spans += Span(spans.size, parent, name, System.nanoTime(), 0L)
    spans.size - 1
  }

  def end(id: Int): Long = spans.synchronized {
    val s = spans(id).copy(end = System.nanoTime())
    spans(id) = s
    s.end - s.start
  }

  /** Run `f` inside a new span; work it submits to Spark from this thread
    * is attributed to the span. */
  def span[T](sc: SparkContext, name: String, parent: Int)(f: Int => T): T = {
    val id = begin(name, parent)
    val prev = sc.getLocalProperty(SpanKey)
    if (enabled) sc.setLocalProperty(SpanKey, id.toString)
    try f(id)
    finally {
      if (enabled) sc.setLocalProperty(SpanKey, prev)
      end(id)
    }
  }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** The listener that fills [[counts]]; registered only in traced runs. */
  def listener: SparkListener = new SparkListener {
    private val stageSpan = new ConcurrentHashMap[Int, Int]()
    private def at(span: Int): Counts = counts.computeIfAbsent(span, _ => new Counts)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties).flatMap(x => Option(x.getProperty(SpanKey)))
      val span = p.map(_.toInt).getOrElse(fallback)
      e.stageIds.foreach(stageSpan.put(_, span))
      at(span).synchronized(at(span).jobs += 1)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val c = at(stageSpan.getOrDefault(e.stageInfo.stageId, Unattributed))
      c.synchronized(c.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = at(stageSpan.getOrDefault(e.stageId, Unattributed))
      c.synchronized {
        c.tasks += 1
        if (e.reason != Success) c.taskFailures += 1
        if (e.taskInfo != null) c.taskMs += e.taskInfo.duration
        val m = e.taskMetrics
        if (m != null) {
          c.inputBytes += m.inputMetrics.bytesRead
          c.outputBytes += m.outputMetrics.bytesWritten
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.gcMs += m.jvmGCTime
        }
      }
    }
  }

  /** Sum of the counts of `roots` and every span below them. */
  def countsUnder(roots: Set[Int]): Counts = {
    val ss = all
    val children = ss.groupBy(_.parent)
    val acc = new Counts
    def walk(id: Int): Unit = {
      Option(counts.get(id)).foreach(acc.add)
      children.getOrElse(id, Nil).foreach(c => walk(c.id))
    }
    roots.foreach(walk)
    acc
  }

  def toJson: String = {
    val ss = all
    val t0 = ss.headOption.map(_.start).getOrElse(0L)
    ss.map { s =>
      val c = Option(counts.get(s.id)).map(x => "," + x.toJson).getOrElse("")
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""start_s":${(s.start - t0) / 1e9},"dur_s":${(s.end - s.start) / 1e9}$c}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

object Trace {
  val SpanKey = "perfbench.span"
  /** Spark work submitted from a thread without a span property. */
  val Unattributed: Int = -1

  final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long)

  final class Counts {
    var jobs, stages, tasks, taskFailures = 0L
    var taskMs, inputBytes, outputBytes, shuffleWriteBytes = 0L
    var shuffleReadBytes, spillBytes, gcMs = 0L

    def add(o: Counts): Unit = o.synchronized {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks
      taskFailures += o.taskFailures; taskMs += o.taskMs
      inputBytes += o.inputBytes; outputBytes += o.outputBytes
      shuffleWriteBytes += o.shuffleWriteBytes
      shuffleReadBytes += o.shuffleReadBytes; spillBytes += o.spillBytes
      gcMs += o.gcMs
    }

    def toJson: String = synchronized {
      s""""jobs":$jobs,"stages":$stages,"tasks":$tasks,"task_failures":$taskFailures,""" +
        s""""task_s":${taskMs / 1e3},"input_bytes":$inputBytes,"output_bytes":$outputBytes,""" +
        s""""shuffle_write_bytes":$shuffleWriteBytes,"shuffle_read_bytes":$shuffleReadBytes,""" +
        s""""spill_bytes":$spillBytes,"gc_s":${gcMs / 1e3}"""
    }
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
