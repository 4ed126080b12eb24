package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd}

/** In-memory span recorder. A span is (name, start, end, parent, run id);
  * spans are kept until [[write]] at the end of the benchmark, so the traced
  * run pays no I/O while it measures.
  */
final class Tracer {
  final case class Span(id: Int, parent: Int, run: String, name: String, startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  var run: String = ""

  /** Runs `f` inside a span named `name`; returns its result and the span's seconds. */
  def span[T](name: String)(f: => T): (T, Double) = {
    val id = spans.length
    val parent = open.headOption.getOrElse(-1)
    spans += Span(id, parent, run, name, System.nanoTime(), -1L)
    open = id :: open
    try {
      val r = f
      val end = System.nanoTime()
      spans(id) = spans(id).copy(endNs = end)
      (r, spans(id).seconds)
    } finally open = open.tail
  }

  /** Self time: the span's duration minus the time its child spans cover. */
  def selfSeconds(id: Int): Double =
    spans(id).seconds - spans.iterator.filter(_.parent == id).map(_.seconds).sum

  def write(file: Path): Unit = {
    Files.createDirectories(file.getParent)
    val lines = spans.map { s =>
      Json.obj("id" -> s.id, "parent" -> s.parent, "run" -> s.run, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_s" -> selfSeconds(s.id))
    }
    Files.write(file, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** The benchmark's own listener: per-tag task counters and per-stage task
  * times. A tag is a local property set around the action that submits the
  * stages, so every counter is attributed to the call that caused it.
  */
final class StageCounters extends SparkListener {
  final class Totals {
    var cpuNs = 0L; var gcMs = 0L; var shuffleWriteBytes = 0L
    var recordsRead = 0L; var tasks = 0L
  }
  private final class StageTasks(val tag: String) {
    val durationsMs = ArrayBuffer.empty[Long]
    var shuffleReadRecords = 0L
  }

  private val stages = mutable.Map.empty[Int, StageTasks]
  private val totals = mutable.Map.empty[String, Totals]

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val props = e.properties
    val tag = if (props == null) "" else Option(props.getProperty(StageCounters.TagKey)).getOrElse("")
    stages(e.stageInfo.stageId) = new StageTasks(tag)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val st = stages.getOrElseUpdate(e.stageId, new StageTasks(""))
      st.durationsMs += e.taskInfo.duration
      st.shuffleReadRecords += m.shuffleReadMetrics.recordsRead
      val t = totals.getOrElseUpdate(st.tag, new Totals)
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.recordsRead += m.inputMetrics.recordsRead
      t.tasks += 1
    }
  }

  /** Runs the actions in `f` with their stages tagged `tag`. */
  def tagged[T](sc: SparkContext, tag: String)(f: => T): T = {
    sc.setLocalProperty(StageCounters.TagKey, tag)
    try f finally sc.setLocalProperty(StageCounters.TagKey, null)
  }

  def totalsOf(sc: SparkContext, tag: String): Totals = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized(totals.getOrElse(tag, new Totals))
  }

  /** Max ÷ median task time of the tagged stage that reads a shuffle and
    * runs the most tasks: the stage right after the exchange.
    */
  def postExchangeSkew(sc: SparkContext, tag: String): Double = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized {
      val reads = stages.values.filter(s => s.tag == tag && s.shuffleReadRecords > 0)
      if (reads.isEmpty) 0.0
      else {
        val d = reads.maxBy(_.durationsMs.length).durationsMs.sorted
        d.last.toDouble / math.max(1L, d(d.length / 2))
      }
    }
  }

  def reset(): Unit = synchronized { stages.clear(); totals.clear() }
}

object StageCounters {
  val TagKey = "perfbench.tag"
}
