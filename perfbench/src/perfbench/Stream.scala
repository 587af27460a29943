package perfbench

import java.io.File
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, MemoryStream}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.GraftConfig
import graft.streaming.{Event, StreamingAnomaly}

/** Progress of every micro-batch, as the query reports it. */
final class ProgressLog extends StreamingQueryListener {
  val all = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = all.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** One addData call: the stream offset it created and its events. */
final case class Add(offset: Long, from: Int, until: Int, epochMs: Double)

/** What one open-loop phase of the stream measured. */
final case class Phase(latencyMs: Array[Double], lateMs: Array[Double], backlogMax: Long,
                       wallS: Double, missing: Int, progress: Seq[StreamingQueryProgress])

/** `stream_score`: an open loop that adds events for `series` meters to a
  * MemoryStream at `rate` events per second, scored by
  * `StreamingAnomaly.rollingZscore` into a memory sink.
  */
final class StreamScore(spark: SparkSession, seed: Long, series: Int, rate: Double,
                        work: File, cores: Int) {
  import spark.implicits._

  val TickNs = 10000000L
  val SpikeFrac = 0.005
  private val win = GraftConfig.SequenceLength
  private val rng = new Random(seed)
  private val meters = Array.fill(series)(Meter.draw(rng))
  private val seen = Array.fill(series)(0L)
  private val lastSpike = Array.fill(series)(-1000L)
  private var nextId = 0L
  val spikes = ArrayBuffer[Long]()
  private val log = new ProgressLog
  private val ms = MemoryStream[Event](spark, cores)
  private var query: StreamingQuery = _

  /** Next event of a uniformly drawn meter. A spike goes only to a meter
    * with 8 values seen and no spike in its trailing window, so a planted
    * spike is never hidden by an earlier one.
    */
  private def event(allowSpikes: Boolean): Event = {
    val s = rng.nextInt(series)
    val k = seen(s)
    seen(s) += 1
    val spike = allowSpikes && k >= 8 && k - lastSpike(s) > win && rng.nextDouble() < SpikeFrac
    val v = if (spike) { spikes += nextId; lastSpike(s) = k; meters(s).spike } else meters(s).value(k, rng)
    val e = Event(nextId, Gen.ts(k), s.toLong, "load", v)
    nextId += 1
    e
  }

  def events(n: Int, allowSpikes: Boolean): Array[Event] = Array.fill(n)(event(allowSpikes))

  /** Starts the query and processes each of `batches` to completion. */
  def start(batches: Seq[Array[Event]]): Unit = {
    spark.streams.addListener(log)
    query = StreamingAnomaly.rollingZscore(ms.toDS())
      .writeStream.format("memory").queryName("scored").outputMode("append")
      .option("checkpointLocation", new File(work, "checkpoint").getPath)
      .start()
    batches.foreach { b =>
      ms.addData(b.toIndexedSeq)
      query.processAllAvailable()
    }
  }

  /** Adds `evs` on the open-loop schedule (event i is due at i / rate after
    * the start), then waits until all are processed. An event's latency
    * runs from when it was due to the end of the micro-batch whose offset
    * range holds it.
    */
  def phase(evs: Array[Event]): Phase = {
    log.all.clear()
    val adds = ArrayBuffer[Add]()
    val late = new Array[Double](evs.length)
    val nsPerEvent = 1e9 / rate
    val t0 = System.nanoTime
    val epoch0 = System.currentTimeMillis.toDouble
    var sent = 0
    while (sent < evs.length) {
      val now = System.nanoTime
      val due = math.min(evs.length, ((now - t0) / nsPerEvent).toInt + 1)
      if (due > sent) {
        val off = ms.addData(evs.slice(sent, due).toIndexedSeq).asInstanceOf[LongOffset].offset
        val at = System.nanoTime
        var i = sent
        while (i < due) { late(i) = (at - t0 - i * nsPerEvent) / 1e6; i += 1 }
        adds += Add(off, sent, due, epoch0 + (at - t0) / 1e6)
        sent = due
      }
      LockSupport.parkNanos(TickNs)
    }
    query.processAllAvailable()
    BenchBus.drain(spark.sparkContext)
    val progress = log.all.asScala.toSeq.filter(_.sources.head.endOffset != null).sortBy(_.batchId)
    // (end offset, completion epoch ms) per micro-batch
    val done = progress.map(p => (p.sources.head.endOffset.toLong,
      Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution").toDouble))
    val latency = new Array[Double](evs.length)
    var missing = 0
    var j = 0
    adds.foreach { a =>
      while (j < done.length && done(j)._1 < a.offset) j += 1
      var i = a.from
      while (i < a.until) {
        if (j < done.length) latency(i) = done(j)._2 - (epoch0 + i * nsPerEvent / 1e6)
        else missing += 1
        i += 1
      }
    }
    // Backlog peaks just before a batch commits: everything added by then
    // minus everything the previous batches committed.
    var backlogMax = 0L
    var k = 0
    var added = 0L
    var prevCommitted = 0L
    done.foreach { case (end, at) =>
      while (k < adds.length && adds(k).epochMs < at) { added += adds(k).until - adds(k).from; k += 1 }
      backlogMax = math.max(backlogMax, added - prevCommitted)
      prevCommitted = adds.iterator.filter(_.offset <= end).map(a => (a.until - a.from).toLong).sum
    }
    val lastDone = if (done.isEmpty) epoch0 else done.map(_._2).max
    Phase(latency, late, backlogMax, (lastDone - epoch0) / 1000.0, missing, progress)
  }

  /** Every event added so far appears in the sink exactly once. Returns
    * (events missing or duplicated, planted spikes flagged).
    */
  def check(firstId: Long, lastId: Long): (Long, Double) = {
    val out = spark.table("scored").filter(col("event_id").between(firstId, lastId))
    val r = out.agg(count(lit(1)), count_distinct(col("event_id"))).head()
    val (rows, distinct) = (r.getLong(0), r.getLong(1))
    val expected = lastId - firstId + 1
    val planted = spikes.filter(id => id >= firstId && id <= lastId)
    val caught = if (planted.isEmpty) 0L else
      out.filter(col("event_id").isin(planted.toSeq: _*) && abs(col("z")) > GraftConfig.AnomalyThreshold).count()
    ((expected - distinct) + (rows - distinct), if (planted.isEmpty) 1.0 else caught.toDouble / planted.length)
  }

  def stop(): Unit = {
    if (query != null) query.stop()
    spark.streams.removeListener(log)
  }
}
