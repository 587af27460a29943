package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Pipeline, PipelineConfig}
import graft.functions.{CleanFunctions, TextFunctions}
import graft.operators.{CorpusDedup, CorpusCuration, LstmAutoencoder, PcaReconstruction, TimeSeriesOps => TS}
import graft.sources.{CsvSource, Sinks, Tables}

/** Outcome of one operation's output check. */
final case class Check(ok: Boolean, recall: Double, detail: String)

/** A batch workload: a job over generated inputs, the same job called stage
  * by stage under spans, and the check of either's output.
  */
trait BatchWorkload {
  def spark: SparkSession
  def inputRows: Long
  /** Writes the inputs under `dir`; called once per set-up round. */
  def generate(dir: File): Unit
  /** The job as a user calls it; returns its materialized output. */
  def job(out: File): DataFrame
  /** The same job, one public stage call per span, each stage's output
    * forced with an eager localCheckpoint.
    */
  def traced(tr: Tracer, runId: String, out: File): DataFrame
  def check(result: DataFrame): Check
  /** Layer counters that are not span timings. */
  def counters(): Map[String, Double] = Map.empty

  /** Forces `df` inside the current span; its row count is taken after the
    * span ends so the count job is not charged to the layer.
    */
  protected def stage(tr: Tracer, name: String, runId: String)(df: => DataFrame): DataFrame = {
    var id = -1
    val out = tr.span(name, runId) { id = tr.spans.last.id; df.localCheckpoint() }
    tr.rowsOut(id) = out.count()
    out
  }

  /** Order-blind digest: row count and the exact sum of per-row hashes. */
  def digest(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.select(xxhash64(df.columns.sorted.map(col): _*).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), r.getDecimal(1))
  }
}

/** Shared front of the two time-series workloads: the stages of
  * `Pipeline.prepare` with the same `PipelineConfig` values.
  */
abstract class SeriesWorkload(val cfg: PipelineConfig) extends BatchWorkload {
  var set: SeriesSet = _
  def inputRows: Long = set.rows.length.toLong

  protected def tracedPrepare(tr: Tracer, runId: String, events: DataFrame): DataFrame = {
    val feats = Pipeline.featureColumns(cfg)
    val indexed = stage(tr, "ts.index", runId)(
      TS.dedupIndex(events, cfg.seriesKeys, col(cfg.tsCol), cfg.order, cfg.duplicateHandling))
    val filled = stage(tr, "ts.fill", runId)(
      TS.fill(indexed, cfg.seriesKeys, cfg.order, cfg.target, cfg.missingStrategy))
    val featured = stage(tr, "ts.features", runId)(
      TS.addRolling(
        TS.addLags(TS.addTimeFeatures(filled, cfg.tsCol),
          cfg.seriesKeys, cfg.order, cfg.target, cfg.lags),
        cfg.seriesKeys, cfg.order, cfg.target, cfg.rollingWindows))
    stage(tr, "ts.scale", runId)(
      TS.minMaxScaleAll(TS.dropNulls(featured, feats), cfg.seriesKeys, cfg.target +: feats))
  }

  def check(result: DataFrame): Check = {
    val spikes = set.spikeIds.toSeq
    val r = result.agg(
      count(lit(1)),
      sum(when(col("recon_err").isNull || col("is_anomaly").isNull, 1).otherwise(0)),
      sum(when(col("event_id").isin(spikes: _*) && col("is_anomaly") === 1, 1).otherwise(0))
    ).head()
    val (n, nulls, caught) = (r.getLong(0), r.getLong(1), r.getLong(2))
    Check(n == set.expectedRows && nulls == 0,
      if (spikes.isEmpty) 1.0 else caught.toDouble / spikes.length,
      s"rows=$n expected=${set.expectedRows} null_scores=$nulls spikes_flagged=$caught/${spikes.length}")
  }
}

/** `fleet_pca`: CSV in, PCA-scored parquet out, at fleet width. */
final class FleetPca(val spark: SparkSession, seed: Long, meters: Int, points: Int)
    extends SeriesWorkload(PipelineConfig()) {
  private var csvDir: File = _

  def generate(dir: File): Unit = {
    set = Gen.series(seed, meters, points)
    csvDir = new File(dir, "fleet_csv")
    Gen.writeCsv(set, csvDir, perFile = math.max(1, meters / 4))
  }

  private def load(): DataFrame =
    CsvSource.load(spark, csvDir.getPath, ";", Seq("ts"))

  private def clean(raw: DataFrame): DataFrame =
    raw.select(col("event_id").cast(LongType), col("user_id").cast(LongType), col("ts"),
      CleanFunctions.cleanNumeric(col("value")).as("value"))

  def job(out: File): DataFrame = {
    Sinks.parquet(Pipeline.run(clean(load()), cfg), out.getPath)
    spark.read.parquet(out.getPath)
  }

  def traced(tr: Tracer, runId: String, out: File): DataFrame = {
    val raw = stage(tr, "sources.csv_load", runId)(load())
    val events = stage(tr, "functions.clean", runId)(clean(raw))
    val scaled = tracedPrepare(tr, runId, events)
    val scored = stage(tr, "model.pca", runId)(
      PcaReconstruction.detect(scaled, cfg.seriesKeys, cfg.order, s"${cfg.target}_scaled",
        cfg.seqLen, cfg.pcaComponents, cfg.flagFactor))
    tr.span("sinks.parquet", runId)(Sinks.parquet(scored, out.getPath))
    tr.rowsOut(tr.spans.last.id) = scored.count()
    spark.read.parquet(out.getPath)
  }
}

/** `grid_lstm`: one long series as events parquet, LSTM-AE scored. */
final class GridLstm(val spark: SparkSession, seed: Long, points: Int)
    extends SeriesWorkload(PipelineConfig(model = "lstm")) {
  private var dir: File = _

  def generate(d: File): Unit = {
    set = Gen.series(seed, 1, points)
    dir = new File(d, "grid")
    val schema = StructType(Seq(
      StructField("event_id", LongType, false), StructField("ts", TimestampType, false),
      StructField("user_id", LongType, false), StructField("event_type", StringType, false),
      StructField("value", DoubleType, true)))
    val rows = set.rows.map(r =>
      Row(r.eventId, Gen.ts(r.hour), r.meter, "load", r.value.map(Double.box).orNull))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(new File(dir, "events.parquet").getPath)
  }

  def job(out: File): DataFrame =
    Pipeline.run(Tables.events(spark, dir.getPath), cfg).localCheckpoint()

  def traced(tr: Tracer, runId: String, out: File): DataFrame = {
    val events = stage(tr, "sources.events", runId)(Tables.events(spark, dir.getPath))
    val scaled = tracedPrepare(tr, runId, events)
    stage(tr, "model.lstm", runId)(
      LstmAutoencoder.detectMulti(scaled, cfg.seriesKeys, cfg.order,
        (cfg.target +: Pipeline.featureColumns(cfg)).map(_ + "_scaled"),
        cfg.seqLen, cfg.lstmHidden, cfg.lstmBottleneck, flagFactor = cfg.flagFactor))
  }
}

/** `corpus_curation`: quality/language gate, exact + near dedup, split. */
final class CorpusJob(val spark: SparkSession, seed: Long, n: Int) extends BatchWorkload {
  private var corpus: Gen.Corpus = _
  private var dir: File = _
  private val (minQuality, trainPct) = (0.4, 90)
  private var gatedRows = 0L
  private var nearInput: DataFrame = _

  def inputRows: Long = n.toLong

  def generate(d: File): Unit = {
    corpus = Gen.corpus(seed, n)
    dir = new File(d, "corpus")
    val rows = corpus.docs.map { case (id, text) => Row(id, text) }
    val schema = StructType(Seq(StructField("doc_id", LongType, false), StructField("text", StringType, false)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .write.mode("overwrite").parquet(new File(dir, "documents.parquet").getPath)
  }

  private def docs(): DataFrame = Tables.documents(spark, dir.getPath)

  def job(out: File): DataFrame = CorpusCuration.run(docs(), minQuality = minQuality, trainPct = trainPct).localCheckpoint()

  def traced(tr: Tracer, runId: String, out: File): DataFrame = {
    val gated = stage(tr, "curation.gate", runId)(
      docs().withColumn("quality", TextFunctions.qualityScore(col("text")))
        .withColumn("lang_pred", TextFunctions.predLang(col("text")))
        .filter(col("quality") >= minQuality && col("lang_pred") =!= "und"))
    val kept = stage(tr, "dedup.exact", runId)(CorpusDedup.exactSurvivors(gated, "doc_id", "text"))
    val deduped = stage(tr, "dedup.near", runId)(
      kept.join(CorpusDedup.nearDupDropped(kept, "doc_id", "text"), Seq("doc_id"), "left_anti"))
    val bucket = CleanFunctions.md5Hash64(concat(lit("split:"), col("doc_id"))) % 100
    val out = stage(tr, "curation.split", runId)(
      deduped.withColumn("split", when(bucket < trainPct, "train").otherwise("val"))
        .select(col("doc_id"), col("lang_pred"), col("quality"), col("split")))
    gatedRows = gated.count()
    nearInput = kept
    out
  }

  /** Banded candidate pairs vs pairs within the hamming bound, and the
    * gate's pass share, of the last traced job.
    */
  override def counters(): Map[String, Double] = {
    val ch = CorpusDedup.simhashChunks(nearInput, "doc_id", "text")
    val pairs = ch.as("a").join(ch.as("b"),
        col("a.doc_id") < col("b.doc_id") && col("a.c") === col("b.c") && col("a.v") === col("b.v"))
      .select(col("a.doc_id").as("x"), col("b.doc_id").as("y"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hd"))
    val r = pairs.agg(count(lit(1)),
      count_distinct(when(col("hd") <= CorpusDedup.SimhashMaxHamming, struct(col("x"), col("y"))))).head()
    val (candidates, near) = (r.getLong(0), r.getLong(1))
    Map(
      "dedup.near.candidate_pairs" -> candidates.toDouble,
      "dedup.near.pair_yield" -> (if (candidates == 0) 0.0 else near.toDouble / candidates),
      "curation.gate.pass_frac" -> gatedRows.toDouble / n)
  }

  def check(result: DataFrame): Check = {
    import spark.implicits._
    val nPlanted = corpus.exactDupIds.length + corpus.nearDupIds.length
    val planted = (corpus.exactDupIds.map(i => (i, 1)) ++ corpus.nearDupIds.map(i => (i, 0))).toSeq
      .toDF("doc_id", "exact")
    val r = result.select("doc_id").join(docs(), "doc_id")
      .join(broadcast(planted), Seq("doc_id"), "left")
      .agg(count(lit(1)), count_distinct(md5(col("text"))),
        sum(when(col("exact") === 1, 1).otherwise(0)), count(col("exact")))
      .head()
    val (kept, distinct, exactLeft, plantedLeft) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    Check(kept == distinct && exactLeft == 0 && kept > 0,
      1.0 - plantedLeft.toDouble / nPlanted,
      s"survivors=$kept distinct_md5=$distinct exact_dups_left=$exactLeft planted_left=$plantedLeft/$nPlanted")
  }
}
