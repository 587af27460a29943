package perfbench

import java.io.{File, PrintWriter}
import java.util.Properties

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One traced interval around a call into a graft module. Spans of one
  * traced job share `runId`; `parent` is -1 for the job's root span.
  */
final case class Span(id: Int, name: String, parent: Int, runId: String,
                      startNs: Long, var endNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Task counters of the jobs that ran under one span. */
final class SpanCounters {
  var jobs = 0
  var taskMs = 0L
  var shuffleBytes = 0L
  /** stage id -> task durations (ms) */
  val stageTasks = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  /** stage id -> (first task launch, last task finish), epoch ms */
  val stageWall = mutable.Map[Int, (Long, Long)]()
}

/** Attributes Spark task metrics to the span whose id the submitting
  * thread carried as a local property when the job started.
  */
final class SpanListener extends SparkListener {
  private val stageSpan = mutable.Map[Int, Int]()
  private val bySpan = mutable.Map[Int, SpanCounters]()
  private var taskCount = 0L

  private def spanOf(p: Properties): Int =
    Option(p).flatMap(q => Option(q.getProperty(Tracer.Key))).map(_.toInt).getOrElse(-1)

  private def counters(span: Int) = bySpan.getOrElseUpdate(span, new SpanCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val s = spanOf(e.properties)
    counters(s).jobs += 1
    e.stageIds.foreach(st => stageSpan.getOrElseUpdate(st, s))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    if (e.properties != null) stageSpan(e.stageInfo.stageId) = spanOf(e.properties)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    taskCount += 1
    val c = counters(stageSpan.getOrElse(e.stageId, -1))
    val m = e.taskMetrics
    if (m != null) {
      c.taskMs += m.executorRunTime
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
    }
    val info = e.taskInfo
    c.stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += info.duration
    val (lo, hi) = c.stageWall.getOrElse(e.stageId, (Long.MaxValue, Long.MinValue))
    c.stageWall(e.stageId) = (lo min info.launchTime, hi max info.finishTime)
  }

  def of(span: Int): SpanCounters = synchronized(bySpan.getOrElse(span, new SpanCounters))
  def tasks: Long = synchronized(taskCount)
}

/** In-memory span recorder. Spans are written out by [[write]] when the
  * run ends; [[layerMetrics]] turns one traced job into per-layer numbers.
  */
final class Tracer(spark: SparkSession, cores: Int) {
  val spans = mutable.ArrayBuffer[Span]()
  /** span id -> rows in the span's forced output */
  val rowsOut = mutable.Map[Int, Long]()
  private var stack = List.empty[Int]
  private val sc = spark.sparkContext
  val listener = new SpanListener
  sc.addSparkListener(listener)

  def span[T](name: String, runId: String)(body: => T): T = {
    val s = Span(spans.length, name, stack.headOption.getOrElse(-1), runId, System.nanoTime)
    spans += s
    val prev = sc.getLocalProperty(Tracer.Key)
    sc.setLocalProperty(Tracer.Key, s.id.toString)
    stack = s.id :: stack
    try body
    finally {
      s.endNs = System.nanoTime
      stack = stack.tail
      sc.setLocalProperty(Tracer.Key, prev)
    }
  }

  /** Span duration minus the part of it its child spans cover. Children of
    * one span run one after another on the driver thread, so they do not
    * overlap and their durations add.
    */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum

  /** Per-layer numbers of the traced job rooted at `root`, by span name. */
  def layerMetrics(root: Span): Map[String, Double] = {
    BenchBus.drain(sc)
    spans.filter(_.parent == root.id).flatMap { s =>
      val c = listener.of(s.id)
      val wall = s.seconds
      val longest = c.stageWall.maxByOption { case (_, (lo, hi)) => hi - lo }.map(_._1)
      val skew = longest.map { st =>
        val d = c.stageTasks(st).sorted
        d.last.toDouble / math.max(d(d.length / 2), 1L).toDouble
      }.getOrElse(1.0)
      Seq(
        s"${s.name}.self_s" -> selfSeconds(s),
        s"${s.name}.core_util" -> c.taskMs / 1000.0 / (wall * cores),
        s"${s.name}.shuffle_mb" -> c.shuffleBytes / 1048576.0,
        s"${s.name}.task_skew" -> skew,
        s"${s.name}.rows_out" -> rowsOut.getOrElse(s.id, 0L).toDouble) ++
        (if (s.name.startsWith("model.")) Seq(s"${s.name}.jobs" -> c.jobs.toDouble) else Nil)
    }.toMap
  }

  def close(): Unit = {
    BenchBus.drain(sc)
    sc.removeSparkListener(listener)
  }

  def write(file: File): Unit = {
    file.getParentFile.mkdirs()
    val w = new PrintWriter(file, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"run":"${s.runId}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${selfSeconds(s)}}""")
    } finally w.close()
  }
}

object Tracer {
  val Key = "perfbench.span"
}
