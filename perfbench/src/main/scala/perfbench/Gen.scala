package perfbench

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

/** Stateless seeded hashing: every generated value is a pure function of
  * (seed, coordinates), so any row can be regenerated on its own — the
  * output checks recompute expected cells without storing the inputs.
  */
object Mix {
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def h(seed: Long, a: Long, b: Long = 0L, c: Long = 0L, d: Long = 0L): Long =
    mix64(mix64(mix64(mix64(seed ^ a) ^ b) ^ c) ^ d)
  def unit(x: Long): Double = (x >>> 11) * (1.0 / (1L << 53))
  def below(x: Long, n: Int): Int = ((x >>> 1) % n).toInt

  /** Order-independent content hash of one cell (summed over a set). */
  def cellHash(rowkey: Array[Byte], qualifier: Array[Byte], ts: Long,
               value: Array[Byte]): Long = {
    var x = 0x1234567L
    def bytes(b: Array[Byte]): Unit = {
      var i = 0
      while (i < b.length) { x = mix64(x ^ (b(i) & 0xff)); i += 1 }
      x = mix64(x ^ b.length)
    }
    bytes(rowkey); bytes(qualifier); x = mix64(x ^ ts); bytes(value)
    x
  }
}

/** OpenTSDB-layout source table.
  *
  * rowkey = metric uid (3 B) + hour (4 B, epoch seconds) + two tag
  * pairs (12 B). Series are spread over metrics with a Zipf(1) skew;
  * every (series, hour) row holds `minQuals..maxQuals` qualifier
  * offsets (OpenTSDB's `offset << 4` column), and `multiVersionShare`
  * of the cells carry 2–3 versions so the latest-version pick matters.
  * The bulk load's fuzzy scan selects `selectShare` of the hours.
  */
final case class TsdbParams(metrics: Int = 8, series: Int = 2400,
                            hours: Int = 48, minQuals: Int = 2,
                            maxQuals: Int = 8,
                            multiVersionShare: Double = 0.2,
                            selectShare: Double = 0.75, buckets: Int = 16,
                            hotShare: Double = 0.01)

final class TsdbGen(val seed: Long, val p: TsdbParams) extends Serializable {
  import Mix._

  /** First hour of the table: a seeded day in 2024. */
  val baseHour: Int = 1704067200 + below(h(seed, 1), 365) * 86400

  private val metricUid: Array[Array[Byte]] = {
    val seen = scala.collection.mutable.HashSet[Int]()
    Array.tabulate(p.metrics) { m =>
      var k = 0
      var uid = 0
      do { uid = 1 + below(h(seed, 2, m, k), 0xFFFFFE); k += 1 }
      while (!seen.add(uid))
      Array((uid >>> 16).toByte, (uid >>> 8).toByte, uid.toByte)
    }
  }

  /** Series → metric, Zipf(1) over metrics by series count. */
  val seriesMetric: Array[Int] = {
    val w = (0 until p.metrics).map(m => 1.0 / (m + 1))
    val cum = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
    Array.tabulate(p.series) { s =>
      val u = (s + 0.5) / p.series
      cum.indexWhere(_ >= u)
    }
  }

  private val seriesTags: Array[Array[Byte]] = Array.tabulate(p.series) { s =>
    val b = ByteBuffer.allocate(12)
    b.put(Array[Byte](0, 0, 1)); b.put(uid3(h(seed, 3, s, 1)))
    b.put(Array[Byte](0, 0, 2)); b.put(uid3(h(seed, 3, s, 2)))
    b.array()
  }
  private def uid3(x: Long): Array[Byte] =
    Array((x >>> 16).toByte, (x >>> 8).toByte, x.toByte)

  /** Hours the fuzzy scan keeps: a seeded `selectShare` of them. */
  val hourSelected: Array[Boolean] = {
    val n = math.round(p.hours * p.selectShare).toInt
    val order = (0 until p.hours).sortBy(i => h(seed, 4, i))
    val keep = order.take(n).toSet
    Array.tabulate(p.hours)(keep.contains)
  }

  /** The hot 1 % of series the serving mix favours. */
  val hotSeries: Array[Int] = (0 until p.series).sortBy(s => h(seed, 5, s))
    .take(math.max(1, (p.series * p.hotShare).toInt)).toArray

  def hourSec(hi: Int): Int = baseHour + hi * 3600
  def rows: Long = p.series.toLong * p.hours

  def rowkey(s: Int, hi: Int): Array[Byte] = {
    val b = ByteBuffer.allocate(19)
    b.put(metricUid(seriesMetric(s))); b.putInt(hourSec(hi)); b.put(seriesTags(s))
    b.array()
  }

  /** metric ⊕ tags: what the reference hashes for its salt. */
  def saltBase(s: Int): Array[Byte] = metricUid(seriesMetric(s)) ++ seriesTags(s)

  /** Independent re-statement of the reference salt rule
    * (|Arrays.hashCode(metric ⊕ tags)| % buckets), for the checks. */
  def bucketOf(s: Int): Int =
    math.abs(java.util.Arrays.hashCode(saltBase(s)) % p.buckets)

  def saltedKey(s: Int, hi: Int): Array[Byte] = {
    val b = ByteBuffer.allocate(25)
    b.putShort(bucketOf(s).toShort); b.putInt(hourSec(hi)); b.put(rowkey(s, hi))
    b.array()
  }

  /** Sorted distinct second offsets within the hour. */
  def offsets(s: Int, hi: Int): Array[Int] = {
    val n = p.minQuals + below(h(seed, 6, s, hi), p.maxQuals - p.minQuals + 1)
    val out = scala.collection.mutable.TreeSet[Int]()
    var k = 0
    while (out.size < n) { out += below(h(seed, 7, s, hi, k), 3600); k += 1 }
    out.toArray
  }

  def qualifier(off: Int): String = f"${off << 4}%04x"

  def versions(s: Int, hi: Int, off: Int): Int = {
    val x = h(seed, 8, s, hi, off)
    if (unit(x) < p.multiVersionShare) 2 + below(mix64(x), 2) else 1
  }

  def ts(hi: Int, off: Int, v: Int): Long =
    (hourSec(hi).toLong + off) * 1000L + v * 17L

  def value(s: Int, hi: Int, off: Int, v: Int): Array[Byte] =
    ByteBuffer.allocate(8).putDouble(unit(h(seed, 9, s, hi, off * 4 + v)) * 1000).array()

  /** Every source cell (all versions) of row `idx` = s * hours + hi. */
  def sourceCells(idx: Long): Iterator[(Array[Byte], String, String, Long, Array[Byte])] = {
    val s = (idx / p.hours).toInt; val hi = (idx % p.hours).toInt
    val rk = rowkey(s, hi)
    offsets(s, hi).iterator.flatMap { off =>
      (0 until versions(s, hi, off)).iterator.map { v =>
        (rk, "t", qualifier(off), ts(hi, off, v), value(s, hi, off, v))
      }
    }
  }

  /** Latest version of each cell of (s, hi): (qualifier, ts, value). */
  def latestCells(s: Int, hi: Int): Array[(String, Long, Array[Byte])] =
    offsets(s, hi).map { off =>
      val v = versions(s, hi, off) - 1
      (qualifier(off), ts(hi, off, v), value(s, hi, off, v))
    }

  /** The fuzzy-scan pairs: one 7-byte (pattern, mask) per selected
    * hour, metric bytes wildcarded (mask 1), hour bytes pinned (mask 0).
    */
  def fuzzyPairs: Seq[(Array[Byte], Array[Byte])] =
    (0 until p.hours).filter(hourSelected).map { hi =>
      (Array[Byte](0, 0, 0) ++ ByteBuffer.allocate(4).putInt(hourSec(hi)).array(),
        Array[Byte](1, 1, 1, 0, 0, 0, 0))
    }

  /** (cells, content hash) the bulk load must commit. */
  lazy val expectedStore: (Long, Long) = {
    var n = 0L; var hsum = 0L
    for (s <- 0 until p.series; hi <- 0 until p.hours if hourSelected(hi)) {
      val sk = saltedKey(s, hi)
      latestCells(s, hi).foreach { case (q, t, v) =>
        n += 1; hsum += cellHash(sk, q.getBytes(UTF_8), t, v)
      }
    }
    (n, hsum)
  }

  /** Raw user bytes of the committed cells: rowkey + qualifier + value. */
  lazy val expectedUserBytes: Long = {
    var b = 0L
    for (s <- 0 until p.series; hi <- 0 until p.hours if hourSelected(hi))
      latestCells(s, hi).foreach { case (q, _, v) => b += 19 + q.length + v.length }
    b
  }
}

/** Seeded document corpus for the export pipeline.
  *
  * Words are drawn from a synthetic vocabulary plus the quality
  * scorer's stopwords (≈25 % of tokens). Planted shares, by doc kind:
  * exact duplicates of an earlier doc (half re-cased / padded, so only
  * normalization makes them equal), near duplicates (1–2 substituted
  * words, 3-shingle Jaccard ≈ 0.9), eval-contaminated docs (a 12-word
  * passage copied from an eval doc, doc_id % 7 == 0), and short
  * repetitive low-quality docs. doc_ids stay below 50,000 so the eval
  * split exists.
  */
final case class CorpusParams(docs: Int = 6000, vocab: Int = 4000,
                              minWords: Int = 30, maxWords: Int = 120,
                              exactDupShare: Double = 0.05,
                              nearDupShare: Double = 0.05,
                              contaminatedShare: Double = 0.02,
                              lowQualityShare: Double = 0.03,
                              sources: Int = 20) {
  require(docs < 50000, "doc_ids must stay below 50,000")
}

final class CorpusGen(val seed: Long, val p: CorpusParams) extends Serializable {
  import Mix._

  private val stopwords = Array("the", "a", "an", "and", "of", "to", "in", "is", "on", "for")
  private val langs = Array("en", "en", "en", "de", "fr", "es", "zh")

  val vocab: Array[String] = {
    val syl = Array("ka", "lo", "mi", "ter", "su", "ven", "ra", "po", "dex",
      "li", "mor", "na", "qua", "sel", "tu", "vi", "zor", "bel", "cin", "fu")
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    var k = 0L
    while (seen.size < p.vocab) {
      val x = h(seed, 20, k)
      val n = 2 + below(x, 3)
      seen += (0 until n).map(i => syl(below(h(seed, 21, k, i), syl.length))).mkString
      k += 1
    }
    seen.toArray
  }

  /** 0 normal, 1 exact dup, 2 near dup, 3 contaminated, 4 low quality.
    * The first 100 docs are normal, so every planted copy has an
    * earlier normal doc to copy from. */
  def kind(i: Int): Int = {
    if (i < 100) return 0
    val u = unit(h(seed, 22, i))
    val c = Seq(p.exactDupShare, p.nearDupShare, p.contaminatedShare,
      p.lowQualityShare).scanLeft(0.0)(_ + _).tail
    val k = c.indexWhere(u < _)
    if (k < 0) 0 else k + 1
  }

  private def word(i: Int, pos: Int): String = {
    val x = h(seed, 23, i, pos)
    if (unit(x) < 0.25) stopwords(below(mix64(x), stopwords.length))
    else vocab(below(mix64(x ^ 1), vocab.length))
  }

  private def normalWords(i: Int): Array[String] = {
    val n = p.minWords + below(h(seed, 24, i), p.maxWords - p.minWords + 1)
    Array.tabulate(n)(word(i, _))
  }

  /** An earlier normal doc satisfying `ok`, chosen by (tag, i). */
  private def earlierNormal(i: Int, tag: Int, ok: Int => Boolean): Int = {
    var j = below(h(seed, 25, i, tag), i)
    while (j > 0 && !(kind(j) == 0 && ok(j))) j -= 1
    j
  }

  def text(i: Int): String = kind(i) match {
    case 0 => normalWords(i).mkString(" ")
    case 1 =>
      val src = normalWords(earlierNormal(i, 1, _ => true)).mkString(" ")
      if (below(h(seed, 26, i), 2) == 0) src
      else src.capitalize + " "
    case 2 =>
      val w = normalWords(earlierNormal(i, 2, _ => true)).clone()
      val subs = 1 + below(h(seed, 27, i), 2)
      (0 until subs).foreach { k =>
        w(below(h(seed, 28, i, k), w.length)) =
          vocab(below(h(seed, 29, i, k), vocab.length))
      }
      w.mkString(" ")
    case 3 =>
      val own = normalWords(i)
      val ev = normalWords(earlierNormal(i, 3, _ % 7 == 0))
      val at = below(h(seed, 30, i), ev.length - 12)
      (own.take(own.length / 2) ++ ev.slice(at, at + 12) ++
        own.drop(own.length / 2)).mkString(" ")
    case _ =>
      val w = vocab(below(h(seed, 31, i), vocab.length))
      Array.fill(6 + below(h(seed, 32, i), 6))(w).mkString(" ")
  }

  def doc(i: Int): (Long, String, String, String, Long) = {
    val t = text(i)
    (i.toLong, t, langs(below(h(seed, 33, i), langs.length)),
      s"src${below(h(seed, 34, i), p.sources)}", t.length.toLong)
  }
}
