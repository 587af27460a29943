package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Seeded benchmark of graft's public API.
  *
  * {{{
  * Main --workload <fleet_pca|grid_lstm|corpus_curation|stream_score>
  *      --seed <n> --seconds <s> --trace <0|1> --work <dir> --cores <n>
  * }}}
  *
  * Generates the workload's inputs from the seed, builds a local session,
  * runs two warm-up jobs, then measures for `--seconds`. With `--trace 0` it
  * prints the end-to-end metrics; with `--trace 1` it alternates the plain
  * job with the same job called stage by stage under spans and prints the
  * per-layer metrics. The last stdout line is the JSON result.
  */
object Main {
  /** Offered rate of `stream_score`, events per second. */
  val StreamRate = 400.0
  val StreamWarmSeconds = 3.0
  /** Meters (series keys) of `stream_score`. */
  val Meters = 1000
  val Sizes = Map(
    "fleet_pca" -> "15 meters x 1000 hourly points",
    "grid_lstm" -> "1 series x 3000 hourly points",
    "corpus_curation" -> "5000 docs",
    "stream_score" -> s"$Meters meters, ${StreamRate.toInt} events/s")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: File, cores: Int)

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", new File(need("work")), need("cores").toInt)
    require(Sizes.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds > 0 && a.cores > 0, "seconds and cores must be positive")
    a
  }

  final case class Metric(value: Double, unit: String)

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Nearest-rank quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
  }

  private def seconds[T](body: => T): (T, Double) = {
    val t = System.nanoTime
    val r = body
    (r, (System.nanoTime - t) / 1e9)
  }

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
  /** Starts the timed part from the live set, so the peak counts only
    * what the timed work allocates on top of it.
    */
  private def resetHeapPeak(): Unit = {
    System.gc()
    heapPools.foreach(_.resetPeakUsage())
  }
  private def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val work = new File(a.work, s"${a.workload}-${a.seed}-${ProcessHandle.current.pid}")
    deleteTree(work)
    work.mkdirs()
    val spark = GraftSession.builder(s"local[${a.cores}]", a.cores).appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis - jvmStartMs) / 1000.0
    val (ok, attempted, failed, metrics) = try {
      if (a.workload == "stream_score") runStream(spark, a, work, sessionS)
      else runBatch(spark, a, work, sessionS)
    } finally {
      spark.stop()
      deleteTree(work)
    }
    val body = metrics.toSeq.sortBy(_._1).map { case (k, m) =>
      s""""$k": {"value": ${m.value}, "unit": "${m.unit}"}"""
    }.mkString(", ")
    println(s"""{"correct": $ok, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
  }

  private def batchWorkload(spark: SparkSession, a: Args): BatchWorkload = a.workload match {
    case "fleet_pca" => new FleetPca(spark, a.seed, meters = 15, points = 1000)
    case "grid_lstm" => new GridLstm(spark, a.seed, points = 3000)
    case "corpus_curation" => new CorpusJob(spark, a.seed, n = 5000)
  }

  type Result = (Boolean, Long, Long, Map[String, Metric])

  private def runBatch(spark: SparkSession, a: Args, work: File, sessionS: Double): Result = {
    val w = batchWorkload(spark, a)
    // Set-up: inputs generated, then two warm-up jobs. After one, the next
    // job still runs about 30% slow while the JIT catches up.
    val (_, genS) = seconds(w.generate(new File(work, "input")))
    val out = new File(work, "out")
    val (warm, warmS) = seconds { w.job(out); spark.catalog.clearCache(); w.job(out) }
    val warmCheck = w.check(warm)
    System.err.println(s"[perfbench] ${a.workload} (${Sizes(a.workload)}): setup session=${sessionS}s " +
      s"gen=${genS}s warmup=${warmS}s input_rows=${w.inputRows} ${warmCheck.detail}")
    spark.catalog.clearCache()
    val setupS = sessionS + genS + warmS
    if (a.trace) traceBatch(spark, a, w, work)
    else {
      resetHeapPeak()
      val walls = scala.collection.mutable.ArrayBuffer[Double]()
      val recalls = scala.collection.mutable.ArrayBuffer[Double]()
      var failed = 0L
      while (walls.isEmpty || walls.sum < a.seconds) {
        val (res, s) = seconds(Try(w.job(out)))
        walls += s
        val check = res.flatMap(r => Try(w.check(r)))
        check.foreach(c => recalls += c.recall)
        if (!check.toOption.exists(_.ok)) {
          failed += 1
          System.err.println(s"[perfbench] job failed: ${check.fold(_.toString, _.detail)}")
        }
        spark.catalog.clearCache()
      }
      val jobs = walls.length
      System.err.println(s"[perfbench] ${a.workload}: $jobs jobs, latency samples=$jobs, walls=${walls.mkString(",")}")
      (failed == 0, jobs.toLong, failed, Map(
        "setup_s" -> Metric(setupS, "s"),
        "rows_per_s" -> Metric(w.inputRows / median(walls.toSeq), "1/s"),
        "latency_p50_ms" -> Metric(median(walls.toSeq) * 1000, "ms"),
        "latency_p99_ms" -> Metric(quantile(walls.toSeq, 0.99) * 1000, "ms"),
        "backlog_max_rows" -> Metric(w.inputRows.toDouble, "count"),
        "planted_recall" -> Metric(if (recalls.isEmpty) 0.0 else median(recalls.toSeq), "frac"),
        "ok_frac" -> Metric(1.0 - failed.toDouble / jobs, "frac"),
        "heap_peak_mb" -> Metric(heapPeakMb, "MB")))
    }
  }

  /** Alternates the plain job with the traced stage-by-stage job until
    * `seconds` have passed; each traced output must equal the plain one.
    */
  private def traceBatch(spark: SparkSession, a: Args, w: BatchWorkload, work: File): Result = {
    val tr = new Tracer(spark, a.cores)
    val plainWalls, tracedWalls, gcs, tasks = scala.collection.mutable.ArrayBuffer[Double]()
    val layers = scala.collection.mutable.ArrayBuffer[Map[String, Double]]()
    var failed = 0L
    var counters = Map.empty[String, Double]
    val t0 = System.nanoTime
    while (layers.isEmpty || (System.nanoTime - t0) / 1e9 < a.seconds) {
      val i = layers.length
      val (plain, ps) = seconds(w.job(new File(work, "out")))
      val plainDigest = w.digest(plain)
      val (gc0, tasks0) = (gcSeconds, tr.listener.tasks)
      val runId = s"${a.workload}-${a.seed}-$i"
      val (traced, ts) = seconds(tr.span("job", runId)(w.traced(tr, runId, new File(work, "out_traced"))))
      val root = tr.spans.filter(s => s.runId == runId && s.parent == -1).last
      layers += tr.layerMetrics(root)
      gcs += gcSeconds - gc0
      tasks += (tr.listener.tasks - tasks0).toDouble
      val tracedDigest = w.digest(traced)
      val check = w.check(traced)
      if (tracedDigest != plainDigest || !check.ok) {
        failed += 1
        System.err.println(s"[perfbench] traced job differs or fails: plain=$plainDigest traced=$tracedDigest ${check.detail}")
      }
      plainWalls += ps
      tracedWalls += ts
      counters = w.counters()
      spark.catalog.clearCache()
    }
    tr.close()
    tr.write(new File(a.work, s"spans/${a.workload}-${a.seed}.jsonl"))
    val names = layers.flatMap(_.keys).distinct
    val perLayer = names.map(n => n -> median(layers.flatMap(_.get(n)).toSeq)).toMap ++ counters ++ Map(
      "spark.gc_s" -> median(gcs.toSeq),
      "spark.tasks" -> median(tasks.toSeq),
      "harness.latency_samples" -> plainWalls.length.toDouble,
      "harness.trace_overhead_frac" -> (median(tracedWalls.toSeq) / median(plainWalls.toSeq) - 1.0))
    (failed == 0, layers.length.toLong, failed, perLayer.map { case (k, v) => k -> Metric(v, unitOf(k)) })
  }

  private def unitOf(name: String): String =
    if (name.endsWith("_s")) "s"
    else if (name.endsWith("_frac") || name.endsWith(".core_util") || name.endsWith(".pair_yield")) "frac"
    else if (name.endsWith("_mb")) "MB"
    else if (name.endsWith(".task_skew")) "ratio"
    else if (name.contains("_ms")) "ms"
    else "count"

  private def runStream(spark: SparkSession, a: Args, work: File, sessionS: Double): Result = {
    val s = new StreamScore(spark, a.seed, Meters, StreamRate, work, a.cores)
    try {
      val n = math.ceil(StreamRate * a.seconds).toInt
      // Set-up: all events are generated up front, in event-time order; the
      // query starts, primes the meters' state with two batches of 4 events
      // per meter, then runs the open loop for StreamWarmSeconds so the
      // timed part starts from steady batches.
      val ((prime, warm, timed), genS) = seconds((
        Seq.fill(2)(s.events(4 * Meters, allowSpikes = false)),
        s.events((StreamRate * StreamWarmSeconds).toInt, allowSpikes = false),
        s.events(n, allowSpikes = true)))
      val (_, warmS) = seconds { s.start(prime); s.phase(warm) }
      val setupS = sessionS + genS + warmS
      System.err.println(s"[perfbench] stream_score (${Sizes(a.workload)}): setup session=${sessionS}s " +
        s"gen=${genS}s warmup=${warmS}s")
      resetHeapPeak()
      if (!a.trace) {
        val p = s.phase(timed)
        val (bad, recall) = s.check(timed.head.event_id, timed.last.event_id)
        val failed = bad + p.missing
        val lat = p.latencyMs.toSeq
        System.err.println(s"[perfbench] stream_score: latency samples=${lat.length} batches=${p.progress.length} " +
          s"backlog_max=${p.backlogMax} missing_or_duplicated=$bad recall=$recall spikes=${s.spikes.count(_ >= timed.head.event_id)} " +
          s"trigger_ms=${p.progress.map(_.durationMs.get("triggerExecution")).mkString(",")}")
        (failed == 0, n.toLong, failed, Map(
          "setup_s" -> Metric(setupS, "s"),
          "rows_per_s" -> Metric(n / p.wallS, "1/s"),
          "latency_p50_ms" -> Metric(median(lat), "ms"),
          "latency_p99_ms" -> Metric(quantile(lat, 0.99), "ms"),
          "backlog_max_rows" -> Metric(p.backlogMax.toDouble, "count"),
          "planted_recall" -> Metric(recall, "frac"),
          "ok_frac" -> Metric(1.0 - failed.toDouble / n, "frac"),
          "heap_peak_mb" -> Metric(heapPeakMb, "MB")))
      } else {
        // First half without the task listener, second half with it; the
        // per-layer numbers come from the second half.
        val (plainEvs, tracedEvs) = timed.splitAt(n / 2)
        val plain = s.phase(plainEvs)
        val tr = new Tracer(spark, a.cores)
        val gc0 = gcSeconds
        val p = s.phase(tracedEvs)
        val gcS = gcSeconds - gc0
        tr.close()
        val (bad, _) = s.check(timed.head.event_id, timed.last.event_id)
        val failed = bad + plain.missing + p.missing
        type P = org.apache.spark.sql.streaming.StreamingQueryProgress
        def p50(ps: Seq[P])(f: P => Double) = median(ps.map(f))
        def dur(k: String)(q: P) = Option(q.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
        val last = p.progress.last.stateOperators.head
        val metrics = Map(
          "streaming.trigger_ms_p50" -> p50(p.progress)(dur("triggerExecution")),
          "streaming.add_batch_ms_p50" -> p50(p.progress)(dur("addBatch")),
          "streaming.planning_ms_p50" -> p50(p.progress)(dur("queryPlanning")),
          "streaming.wal_commit_ms_p50" -> p50(p.progress)(dur("walCommit")),
          "streaming.state_commit_ms_p50" -> p50(p.progress)(_.stateOperators.head.commitTimeMs.toDouble),
          "streaming.state_rows" -> last.numRowsTotal.toDouble,
          "streaming.state_mem_mb" -> last.memoryUsedBytes / 1048576.0,
          "streaming.rows_per_batch_p50" -> p50(p.progress)(_.numInputRows.toDouble),
          "spark.gc_s" -> gcS,
          "spark.tasks" -> tr.listener.tasks.toDouble,
          "harness.gen_late_ms" -> quantile(p.lateMs.toSeq, 0.99),
          "harness.latency_samples" -> p.latencyMs.length.toDouble,
          "harness.trace_overhead_frac" ->
            (p50(p.progress)(dur("triggerExecution")) / p50(plain.progress)(dur("triggerExecution")) - 1.0))
        (failed == 0, n.toLong, failed, metrics.map { case (k, v) => k -> Metric(v, unitOf(k)) })
      }
    } finally s.stop()
  }
}
