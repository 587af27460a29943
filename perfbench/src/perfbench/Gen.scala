package perfbench

import java.io.{File, PrintWriter}
import java.sql.Timestamp
import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.Locale

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** One meter's hourly series: level plus daily and weekly seasonality plus
  * noise. Levels sit far above the amplitudes so every value is positive:
  * the reference's numeric cleaning strips minus signs.
  */
final case class Meter(base: Double, daily: Double, weekly: Double, noise: Double) {
  def value(t: Long, rng: Random): Double =
    base + daily * math.sin(2 * math.Pi * t / 24.0) +
      weekly * math.sin(2 * math.Pi * t / 168.0) + noise * rng.nextGaussian()
  /** A spike well above anything the seasonality and noise reach. */
  def spike: Double = base + 3 * (daily + weekly) + 20 * noise
}

object Meter {
  def draw(rng: Random): Meter =
    Meter(base = 60 + 90 * rng.nextDouble(), daily = 5 + 10 * rng.nextDouble(),
      weekly = 2 + 6 * rng.nextDouble(), noise = 1 + rng.nextDouble())
}

/** One generated row of an hourly series; `value` None is a blank cell. */
final case class SeriesRow(eventId: Long, meter: Long, hour: Long, value: Option[Double])

/** Hourly series with the reference data's defects, and the ground truth a
  * check needs: which rows are planted spikes and how many rows the
  * pipeline must return.
  */
final case class SeriesSet(rows: IndexedSeq[SeriesRow], spikeIds: Array[Long],
                           meters: Int, points: Int) {
  /** Rows after the pipeline: every distinct hour survives dedup; the
    * longest lag (168) drops the first 168 rows of each series and the
    * 24-step sequences drop 23 more.
    */
  def expectedRows: Long = meters.toLong * (points - Gen.WarmupRows)
}

object Gen {
  val Start: LocalDateTime = LocalDateTime.of(2024, 1, 1, 0, 0)
  val WarmupRows: Int = graft.GraftConfig.DefaultLags.max + graft.GraftConfig.SequenceLength - 1
  val DupFrac = 0.01
  val BlankFrac = 0.01
  val SpikeFrac = 0.002

  def ts(hour: Long): Timestamp =
    Timestamp.from(Start.plusHours(hour).toInstant(ZoneOffset.UTC))

  /** `meters` series of `points` hourly values. About 1% of hours get a
    * second row with a larger event id (the duplicate the pipeline drops),
    * 1% of values are blank, and 0.2% are spikes. Spikes are planted past
    * the warm-up rows, on hours with one row and a non-blank value, so each
    * one reaches the scored output.
    */
  def series(seed: Long, meters: Int, points: Int): SeriesSet = {
    val rng = new Random(seed)
    val rows = ArrayBuffer[SeriesRow]()
    val spikes = ArrayBuffer[Long]()
    var id = 0L
    for (m <- 0 until meters) {
      val meter = Meter.draw(rng)
      for (t <- 0 until points) {
        val r = rng.nextDouble()
        if (t >= WarmupRows + 8 && r < SpikeFrac) {
          spikes += id
          rows += SeriesRow(id, m, t, Some(meter.spike)); id += 1
        } else if (t > 0 && r < SpikeFrac + BlankFrac) {
          rows += SeriesRow(id, m, t, None); id += 1
        } else {
          rows += SeriesRow(id, m, t, Some(meter.value(t, rng))); id += 1
          if (r > 1 - DupFrac) {
            rows += SeriesRow(id, m, t, Some(meter.value(t, rng) * 1.05)); id += 1
          }
        }
      }
    }
    SeriesSet(rows.toIndexedSeq, spikes.toArray, meters, points)
  }

  private val csvTs = DateTimeFormatter.ofPattern("MMM d, yyyy h:mm a", Locale.US)

  /** The reference's CSV export: `;` delimiter, comma decimals, `MMM d,
    * yyyy h:mm a` timestamps, padded header names; one file per `perFile`
    * meters.
    */
  def writeCsv(set: SeriesSet, dir: File, perFile: Int): Unit = {
    dir.mkdirs()
    set.rows.groupBy(_.meter / perFile).foreach { case (part, rows) =>
      val w = new PrintWriter(new File(dir, f"part-$part%04d.csv"), "UTF-8")
      try {
        w.println("event_id; user_id ;ts;value ")
        rows.sortBy(_.eventId).foreach { r =>
          val v = r.value.map(x => String.format(Locale.US, "%.3f", Double.box(x)).replace('.', ',')).getOrElse("")
          w.println(s"${r.eventId};${r.meter};${csvTs.format(Start.plusHours(r.hour))};$v")
        }
      } finally w.close()
    }
  }

  // ---- corpus ------------------------------------------------------------

  final case class Corpus(docs: IndexedSeq[(Long, String)], exactDupIds: Array[Long],
                          nearDupIds: Array[Long])

  val VocabSize = 30000
  val ZipfExponent = 0.8
  val StopwordFrac = 0.1

  private val Syllables = Array("ka", "lo", "mi", "ten", "ra", "su", "vin", "de", "po",
    "mar", "el", "zu", "fa", "tor", "ni", "bel", "qu", "sa", "ho", "gri")

  /** Documents drawn from a Zipfian vocabulary mixed with English stopwords
    * or another language's marker words, plus low-quality junk. 10% of the
    * docs are exact copies and 10% are copies with 1-3 substituted tokens;
    * every copy has a larger id than its source, so dedup keeps the source.
    */
  def corpus(seed: Long, n: Int): Corpus = {
    val rng = new Random(seed)
    val vocab = Array.tabulate(VocabSize) { i =>
      val k = 2 + (i % 3)
      (0 until k).map(j => Syllables((i * 7 + j * 13 + i / 20 * j) % Syllables.length)).mkString + i
    }
    val cum = vocab.indices.map(r => 1.0 / math.pow(r + 1, ZipfExponent)).scanLeft(0.0)(_ + _).tail.toArray
    def word(): String = {
      val x = rng.nextDouble() * cum.last
      val i = java.util.Arrays.binarySearch(cum, x)
      vocab(if (i >= 0) i else -i - 1)
    }
    val markers = graft.functions.TextFunctions.LangMarkers.toMap
    val english = graft.functions.TextFunctions.QualityStopwords
    def doc(): String = {
      val len = 40 + rng.nextInt(120)
      val lang = rng.nextInt(10) match {
        case 7 => "de"; case 8 => "es"; case 9 => "fr"; case _ => "en"
      }
      val fill = if (lang == "en") english else markers(lang)
      val toks = (0 until len).map { i =>
        val w = if (rng.nextDouble() < StopwordFrac) fill(rng.nextInt(fill.length)) else word()
        if (i % 12 == 11) w + "." else w
      }
      toks.mkString(" ")
    }
    def junk(): String =
      (0 until 10 + rng.nextInt(30)).map(_ => rng.nextInt(4) match {
        case 0 => rng.nextInt(100000).toString
        case 1 => "###"
        case 2 => "!!"
        case _ => "$" + rng.nextInt(100)
      }).mkString(" ")

    val nOrig = n - 2 * (n / 10)
    val orig = Array.tabulate(nOrig)(_ => if (rng.nextDouble() < 0.05) None else Some(doc()))
    val good = orig.indices.filter(i => orig(i).isDefined)
    val docs = ArrayBuffer[(Long, String)]()
    orig.indices.foreach(i => docs += ((i.toLong, orig(i).getOrElse(junk()))))
    val exact = ArrayBuffer[Long]()
    val near = ArrayBuffer[Long]()
    var id = nOrig.toLong
    for (_ <- 0 until n / 10) {
      docs += ((id, orig(good(rng.nextInt(good.length))).get)); exact += id; id += 1
    }
    for (_ <- 0 until n / 10) {
      val toks = orig(good(rng.nextInt(good.length))).get.split(" ")
      (0 until 1 + rng.nextInt(3)).foreach(_ => toks(rng.nextInt(toks.length)) = word())
      docs += ((id, toks.mkString(" "))); near += id; id += 1
    }
    Corpus(rng.shuffle(docs).toIndexedSeq, exact.toArray, near.toArray)
  }
}
