package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work attributed to one span: listener counts of the jobs,
  * stages and tasks submitted while the span was the innermost open one.
  */
final class SpanCounts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskCpuNs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  var inputBytes = 0L

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_cpu_s" -> taskCpuNs / 1e9,
    "shuffle_read_mb" -> shuffleReadBytes / 1048576.0,
    "shuffle_write_mb" -> shuffleWriteBytes / 1048576.0,
    "spill_mb" -> spillBytes / 1048576.0,
    "gc_s" -> gcMs / 1e3,
    "input_mb" -> inputBytes / 1048576.0)
}

/** Attributes listener events to spans through the `perfbench.span` local
  * property that [[Tracer.span]] sets on the calling thread: Spark copies
  * it into every job and stage submitted from that thread.
  */
final class SpanListener extends SparkListener {
  private val byStage = new ConcurrentHashMap[Int, Int]()
  val counts = new ConcurrentHashMap[Int, SpanCounts]()

  private def spanOf(p: java.util.Properties): Option[Int] =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.Property))).map(_.toInt)

  private def of(span: Int): SpanCounts =
    counts.computeIfAbsent(span, _ => new SpanCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    spanOf(e.properties).foreach(s => of(s).synchronized(of(s).jobs += 1))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    spanOf(e.properties).foreach { s =>
      byStage.put(e.stageInfo.stageId, s)
      of(s).synchronized(of(s).stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s: Integer = byStage.get(e.stageId)
    val m = e.taskMetrics
    if (s != null && m != null) {
      val c = of(s.intValue)
      c.synchronized {
        c.tasks += 1
        c.taskCpuNs += m.executorCpuTime
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.gcMs += m.jvmGCTime
        c.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }
}

/** In-memory span recorder. Spans are opened around each call the
  * benchmark makes into a layer of the library; each carries its parent
  * and the id of the operation (day, request or round) it belongs to.
  * With tracing off, [[span]] runs its body and records nothing.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  import Tracer.Span

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var currentOp = ""
  private val t0 = System.nanoTime()
  private val listener = if (enabled) Some(new SpanListener) else None
  listener.foreach(sc.addSparkListener)

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.length, name, layer, stack.headOption.map(_.id).getOrElse(-1),
        currentOp, System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Tracer.Property, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.Property,
          stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Root span of one operation; nested spans inherit its op id. */
  def op[T](kind: String, id: String)(body: => T): T = {
    currentOp = id
    val t = System.nanoTime()
    try span(kind, "bench")(body)
    finally {
      currentOp = ""
      System.err.println(f"[perfbench] $id%s ${(System.nanoTime() - t) / 1e9}%.3f s")
    }
  }

  /** Spans with their listener counts, once the listener bus has drained. */
  def export(): Seq[Map[String, Any]] = listener match {
    case None => Nil
    case Some(l) =>
      org.apache.spark.perfbench.ListenerDrain.drain(sc)
      spans.toSeq.map { s =>
        Map("id" -> s.id, "name" -> s.name, "layer" -> s.layer,
          "parent" -> s.parent, "op" -> s.op,
          "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6,
          "counts" -> Option(l.counts.get(s.id)).getOrElse(new SpanCounts).toMap)
      }
  }

  def close(): Unit = listener.foreach(sc.removeSparkListener)
}

object Tracer {
  val Property = "perfbench.span"

  final case class Span(id: Int, name: String, layer: String, parent: Int,
                        op: String, startNs: Long, var endNs: Long = -1L)
}
