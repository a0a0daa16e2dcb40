package perfbench

import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}
import java.util.SplittableRandom

/** One generated document, in its source (pre-ETL) shape. */
final case class Doc(id: String, text: String, lang: String, source: String,
                     ts: Long, n: Int) {
  lazy val tokens: Set[String] = text.split(' ').toSet
  /** ISO string the morphline's convertTimestamp parses. */
  def created: String = Corpus.IsoIn.format(Instant.ofEpochSecond(ts))
  /** The same instant as the morphline emits it (Solr-canonical). */
  def createdOut: String = Corpus.IsoOut.format(Instant.ofEpochSecond(ts))
}

/**
 * Input generators: pure functions of (seed, size). The engine only
 * ever sees what these produce.
 *
 * Text is Zipf-distributed over a fixed vocabulary, `lang` is skewed,
 * `source` takes 50 values, about 2% of ids repeat with a different
 * timestamp (so retain-most-recent dedup has work), and vectors are a
 * seeded mixture around fixed centroids (so IVF probing has structure).
 */
object Corpus {
  val IsoIn: DateTimeFormatter =
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'").withZone(ZoneOffset.UTC)
  val IsoOut: DateTimeFormatter =
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").withZone(ZoneOffset.UTC)

  val VocabSize = 2000
  private val Syllables = for (c <- "bdfgklmnprstvz"; v <- "aeiou") yield s"$c$v"

  /** Fixed pseudo-word vocabulary: lowercase letters only, so the
    * engine's analyzer (lowercase alphanumeric runs) keeps each word
    * as one token. */
  val Vocab: Array[String] = Array.tabulate(VocabSize) { i =>
    var k = i + Syllables.size
    val sb = new StringBuilder
    while (k > 0) { sb.append(Syllables(k % Syllables.size)); k /= Syllables.size }
    sb.toString
  }

  private val ZipfCdf: Array[Double] = {
    val w = Array.tabulate(VocabSize)(r => 1.0 / (r + 1))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }

  /** Zipf rank sample over the vocabulary: rank 0 is the most frequent. */
  def zipfRank(rng: SplittableRandom): Int = rankAt(rng.nextDouble())

  /** Zipf rank sample from stratum `k` of `strata` equal-probability
    * bands: cycling `k` keeps the popular-to-rare profile of a run's
    * requests the same whatever the seed. */
  def zipfRank(rng: SplittableRandom, k: Long, strata: Int): Int =
    rankAt((Math.floorMod(k, strata.toLong) + rng.nextDouble()) / strata)

  private def rankAt(u: Double): Int = {
    val i = java.util.Arrays.binarySearch(ZipfCdf, u)
    math.min(VocabSize - 1, if (i >= 0) i else -i - 1)
  }

  val Langs: Array[(String, Double)] =
    Array("en" -> 0.60, "de" -> 0.15, "fr" -> 0.10, "es" -> 0.08, "ja" -> 0.04, "zh" -> 0.03)
  val Sources: Array[String] = Array.tabulate(50)(i => f"src$i%02d")
  private val Epoch0 = 1600000000L

  private def lang(rng: SplittableRandom): String = {
    var u = rng.nextDouble()
    Langs.find { case (_, p) => u -= p; u < 0 }.map(_._1).getOrElse("en")
  }

  def text(rng: SplittableRandom): String =
    Array.fill(8 + rng.nextInt(13))(Vocab(zipfRank(rng))).mkString(" ")

  /** A fresh document for `id`; `serial` makes its timestamp unique. */
  def doc(rng: SplittableRandom, id: String, serial: Int): Doc =
    Doc(id, text(rng), lang(rng), Sources(rng.nextInt(Sources.length)),
      Epoch0 + rng.nextInt(1000) * 1000000L + serial, rng.nextInt(10000))

  /** `n` source rows; about 2% reuse an earlier row's id. */
  def docs(seed: Long, n: Int): Array[Doc] = {
    val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)
    val out = new Array[Doc](n)
    for (r <- 0 until n) {
      val id = if (r > 0 && rng.nextDouble() < 0.02) out(rng.nextInt(r)).id else f"d$r%07d"
      out(r) = doc(rng, id, r)
    }
    out
  }

  /** Retain-most-recent dedup of source rows: the store's expected content. */
  def latest(rows: Iterable[Doc]): Map[String, Doc] =
    rows.groupBy(_.id).map { case (id, ds) => id -> ds.maxBy(_.ts) }

  val Dim = 32
  private val Centroids: Array[Array[Double]] = {
    val rng = new SplittableRandom(7L)
    Array.fill(48)(Array.fill(Dim)(rng.nextDouble() * 2 - 1))
  }

  /** `n` vectors around the fixed centroids, ids from `firstId`. */
  def vectors(seed: Long, salt: Long, firstId: Long, n: Int): Array[(Long, Array[Double])] = {
    val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt)
    Array.tabulate(n) { i =>
      val c = Centroids(rng.nextInt(Centroids.length))
      (firstId + i, Array.tabulate(Dim)(d => c(d) + 0.35 * gaussian(rng)))
    }
  }

  private def gaussian(rng: SplittableRandom): Double = {
    val u = math.max(rng.nextDouble(), 1e-12)
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * rng.nextDouble())
  }

  private def cosine(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    dot / math.sqrt(na * nb)
  }

  /** Exact top-k corpus ids by cosine similarity (the recall reference). */
  def exactTopK(corpus: Array[(Long, Array[Double])], q: Array[Double], k: Int): Set[Long] =
    corpus.map { case (id, v) => (id, cosine(v, q)) }.sortBy(-_._2).take(k).map(_._1).toSet
}
