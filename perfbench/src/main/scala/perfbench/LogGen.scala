package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.{Locale, SplittableRandom}

import scala.util.hashing.MurmurHash3

/** One generated access-log line and its expected outcome in the
  * engine: `kept` lines become page-request events with `lemma` and
  * `tsSec`, and `hit` tells whether the dimension holds the lemma. */
final case class Line(text: String, kept: Boolean, lemma: String, tsSec: Long, hit: Boolean)

/** Seeded generator of a realistic dwds.de access log and its lemma
  * dimension. Every line's outcome is fixed by how it was built, so
  * each line carries its ground truth.
  *
  * Lemmata are Zipf-distributed over a vocabulary of `VocabSize`
  * synthetic German-like words (umlauts and ß included, so their URIs
  * are percent-encoded); the dimension holds a seeded half of the
  * vocabulary, so not every request hits it. Requests mix in every
  * kind of line the engine's filter cascade drops: typeahead and
  * non-dictionary paths, POSTs, non-200 statuses, bots, sub-dictionary
  * and multi-segment paths, `[`-prefixed, empty and over-long lemmata,
  * malformed escapes, unparseable lines and impossible timestamps.
  *
  * Log time advances `LinesPerSec` lines per second from a fixed
  * epoch, so the same seed gives byte-identical lines. */
final class LogGen(seed: Long) {
  import LogGen._

  private val rng = new SplittableRandom(seed)

  /** The vocabulary in Zipf rank order. */
  val vocab: Array[String] = {
    val syl = Syllables.toArray
    // Fisher-Yates with the seeded generator: the syllable order, and
    // so which words are frequent, depends on the seed
    for (i <- syl.indices.reverse) {
      val j = rng.nextInt(i + 1); val t = syl(i); syl(i) = syl(j); syl(j) = t
    }
    val seen = new java.util.HashSet[String](VocabSize * 2)
    val out = new Array[String](VocabSize)
    var n = 0
    var i = 0L
    while (n < VocabSize) {
      val sb = new StringBuilder
      var k = i + syl.length // at least two syllables
      while (k > 0) { sb.append(syl((k % syl.length).toInt)); k /= syl.length }
      val w0 = sb.toString
      val w = if (rng.nextInt(5) < 2) w0.capitalize else w0
      if (w.length < 40 && seen.add(w) && !SubDictionaries.contains(w)) { out(n) = w; n += 1 }
      i += 1
    }
    for (j <- out.indices.reverse) {
      val r = rng.nextInt(j + 1); val t = out(j); out(j) = out(r); out(r) = t
    }
    out
  }

  /** Dimension membership per vocabulary index. */
  val inDim: java.util.BitSet = {
    val b = new java.util.BitSet(VocabSize)
    for (i <- 0 until VocabSize) if (rng.nextBoolean()) b.set(i)
    b
  }

  /** Dimension rows `(lemma, freq, first_user)`, the engine's
    * dimension schema (`Flagship.dimension`). */
  def dimensionRows: Seq[(String, Long, Long)] = {
    val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    (0 until VocabSize).filter(inDim.get).map(i =>
      (vocab(i), 1L + r.nextInt(100000), r.nextInt(1000000).toLong))
  }

  private val cdf: Array[Double] = {
    val c = new Array[Double](VocabSize)
    var acc = 0.0
    for (k <- 0 until VocabSize) { acc += math.pow(k + 1.0, -ZipfS); c(k) = acc }
    for (k <- 0 until VocabSize) c(k) /= acc
    c
  }

  private def zipf(): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    math.min(if (i >= 0) i else -i - 1, VocabSize - 1)
  }

  private var index = 0L
  private var tsCacheSec = Long.MinValue
  private var tsCache = Array.empty[String]

  private def clfTime(sec: Long, zone: Int): String = {
    if (sec != tsCacheSec) {
      tsCacheSec = sec
      tsCache = Zones.map(z => ClfFormat.withZone(z).format(Instant.ofEpochSecond(sec))).toArray
    }
    tsCache(zone)
  }

  private def pick[T](xs: Seq[T]): T = xs(rng.nextInt(xs.length))

  /** The next line of the log. */
  def next(): Line = {
    val tsSec = BaseEpochSec + index / LinesPerSec
    index += 1
    val w = zipf()
    val lemma = vocab(w)
    val hit = inDim.get(w)
    val kind = {
      val r = rng.nextInt(KindBounds.last)
      KindBounds.indexWhere(r < _)
    }
    var method = "GET"
    var status = "200"
    var ua = pick(BrowserAgents)
    var time = clfTime(tsSec, rng.nextInt(Zones.length))
    val uri = kind match {
      case 0 => "/wb/" + encode(lemma)
      case 1 => "/wb/" + escapeOneAscii(lemma)
      case 2 => "/wb/" + encode(lemma) + pick(Seq("?o=1", "?q=x#bedeutung", "#etymologie"))
      case 3 => "/wb/" + encode(lemma) + "/"
      case 4 => "/wb/typeahead?q=" + encode(lemma.take(3))
      case 5 => pick(Seq("/static/css/main.css", "/api/wb/snippet?q=", "/r/?q=", "/")) + encode(lemma)
      case 6 => method = "POST"; "/wb/" + encode(lemma)
      case 7 => status = pick(Seq("404", "500", "301", "304")); "/wb/" + encode(lemma)
      case 8 => ua = pick(BotAgents); "/wb/" + encode(lemma)
      case 9 => pick(Seq("/wb/dwb/" + encode(lemma), "/wb/etymwb/" + encode(lemma),
          "/wb/" + encode(lemma) + "/1", "/wb/wdg", "/wb/index"))
      case 10 => "/wb/%5B" + encode(lemma)
      case 11 => "/wb/"
      case 12 => "/wb/" + encode(Iterator.continually(lemma).take(1 + 130 / lemma.length).mkString)
      case 13 => "/wb/%" + pick(Seq("ZZ", "G1", "x")) + encode(lemma)
      case 14 => "/wb/" + encode(lemma) // made unparseable below
      case 15 => time = "32/Foo/2026:25:61:00 +0100"; "/wb/" + encode(lemma)
    }
    val ip = s"${1 + rng.nextInt(223)}.${rng.nextInt(256)}.${rng.nextInt(256)}.${1 + rng.nextInt(254)}"
    val size = if (rng.nextInt(10) == 0) "-" else (200 + rng.nextInt(90000)).toString
    val ref = pick(Referrers)
    val text =
      if (kind == 14) s"""$ip - - [$time] "$method $uri HTTP/1.1" $status"""
      else s"""$ip - - [$time] "$method $uri HTTP/1.1" $status $size "$ref" "$ua""""
    val kept = kind <= 3
    Line(text, kept, if (kept) lemma else null, tsSec, kept && hit)
  }

  /** The next `n` lines. */
  def take(n: Int): Array[Line] = Array.fill(n)(next())

  /** Percent-encodes one ASCII letter of `s` besides the non-ASCII
    * characters: the engine must decode escapes it does not need. */
  private def escapeOneAscii(s: String): String = {
    val letters = s.indices.filter(i => s(i).isLetter && s(i) < 128)
    if (letters.isEmpty) encode(s)
    else {
      val i = letters(rng.nextInt(letters.length))
      encode(s.take(i)) + f"%%${s(i).toInt}%02X" + encode(s.drop(i + 1))
    }
  }
}

object LogGen {
  /** 2026-10-01T00:00:00Z */
  val BaseEpochSec: Long = 1790812800L
  val ZipfS = 1.05
  val VocabSize = 400000
  /** Lines per second of log time: the reference's production peak. */
  val LinesPerSec = 100

  /** Line kinds by weight per mille; kinds 0–3 are kept, 4–15 dropped
    * by one branch of the filter cascade each. */
  val KindWeights: Seq[Int] = Seq(480, 60, 40, 20, 90, 50, 15, 50, 70, 40, 10, 5, 20, 10, 25, 15)
  private val KindBounds: Array[Int] = KindWeights.scanLeft(0)(_ + _).tail.toArray

  val SubDictionaries: Set[String] = Set("dwb", "dwb2", "etymwb", "wdg", "index", "Wörterbuch")

  val Syllables: Seq[String] = Seq(
    "ba", "be", "bi", "bo", "da", "de", "di", "do", "ga", "ge", "ha", "he", "hi", "ka",
    "ke", "ko", "la", "le", "li", "lo", "ma", "me", "mi", "mo", "na", "ne", "ni", "no",
    "ra", "re", "ri", "ro", "sa", "se", "si", "so", "ta", "te", "ti", "to", "wa", "we",
    "schl", "str", "ung", "keit", "heit", "ein", "aus", "ber", "ver", "zu", "ä", "ö",
    "ü", "ß", "äu", "ür", "öl", "ach")

  val BrowserAgents: Seq[String] = Seq(
    "Mozilla/5.0 (X11; Linux x86_64; rv:120.0) Gecko/20100101 Firefox/120.0",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/124.0.0.0 Safari/537.36",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 17_4 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.4 Mobile/15E148 Safari/604.1",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.3 Safari/605.1.15")

  val BotAgents: Seq[String] = Seq(
    "Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)",
    "Mozilla/5.0 (compatible; bingbot/2.0; +http://www.bing.com/bingbot.htm)",
    "curl/8.4.0",
    "python-requests/2.31.0",
    "Wget/1.21.3")

  val Referrers: Seq[String] = Seq("-", "https://www.dwds.de/", "https://www.google.com/")

  private val Zones = Seq(ZoneOffset.ofHours(1), ZoneOffset.ofHours(2))
  private val ClfFormat = DateTimeFormatter.ofPattern("dd/MMM/yyyy:HH:mm:ss Z", Locale.US)

  /** Percent-encodes every non-ASCII character as UTF-8 bytes. */
  def encode(s: String): String =
    if (s.forall(_ < 128)) s
    else s.flatMap { c =>
      if (c < 128) c.toString
      else c.toString.getBytes(StandardCharsets.UTF_8).map(b => f"%%${b & 0xff}%02X").mkString
    }

  /** Writes lines as one log file, atomically: the file appears in
    * `dir` complete or not at all. */
  def writeFile(dir: Path, name: String, lines: Iterable[Line], staging: Path): Path = {
    Files.createDirectories(staging)
    val tmp = staging.resolve(name)
    val sb = new java.lang.StringBuilder
    lines.foreach(l => sb.append(l.text).append('\n'))
    Files.write(tmp, sb.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** 64-bit hash of one expected fact row. */
  def factHash(lemma: String, tsSec: Long, hit: Boolean): Long = {
    val s = s"$lemma\u0001$tsSec\u0001$hit"
    (MurmurHash3.stringHash(s, 0x1b873593).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x2c1b3c6d).toLong & 0xffffffffL)
  }
}

/** Order-independent digest of a multiset of fact rows: equal
  * multisets give equal digests, and a missing or duplicated row
  * changes all three fields. */
final case class Digest(rows: Long, sum: Long, mix: Long) {
  def +(h: Long): Digest =
    Digest(rows + 1, sum + h, mix + java.lang.Long.rotateLeft(h * 0x9E3779B97F4A7C15L, 31))
  def ++(o: Digest): Digest = Digest(rows + o.rows, sum + o.sum, mix + o.mix)
}

object Digest {
  val empty: Digest = Digest(0, 0, 0)
}
