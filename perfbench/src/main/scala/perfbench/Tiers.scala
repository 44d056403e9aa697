package perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.StandardOpenOption
import java.util.concurrent.atomic.LongAdder

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{BpeKernel, BytesCodec, TextHashes, bpe}
import graft.operators.Bpe
import graft.sources.{HFile, HFileReader, HFileWriter}

/** Positional reads from a local file — the benchmark's own
  * `RandomRead`, opened once and shared by every get on the file.
  */
final class FileRead(path: String) extends HFileReader.RandomRead {
  private val ch = FileChannel.open(new File(path).toPath, StandardOpenOption.READ)
  val length: Long = ch.size()
  def readFully(pos: Long, n: Int): Array[Byte] = {
    val buf = ByteBuffer.allocate(n)
    var p = pos
    while (buf.hasRemaining) {
      val r = ch.read(buf, p)
      require(r >= 0, s"short read at $p in $path")
      p += r
    }
    buf.array()
  }
  override def close(): Unit = ch.close()
}

/** Counts and times the reads a caller makes through `under`. */
final class CountingRead(under: HFileReader.RandomRead) extends HFileReader.RandomRead {
  private val nReads = new LongAdder
  private val nBytes = new LongAdder
  private val nIoNs = new LongAdder
  def reads: Long = nReads.sum
  def bytes: Long = nBytes.sum
  def ioNs: Long = nIoNs.sum
  def length: Long = under.length
  def readFully(pos: Long, n: Int): Array[Byte] = {
    val t = System.nanoTime()
    val b = under.readFully(pos, n)
    nIoNs.add(System.nanoTime() - t)
    nReads.increment(); nBytes.add(n)
    b
  }
  def reset(): Unit = { nReads.reset(); nBytes.reset(); nIoNs.reset() }
  override def close(): Unit = under.close()
}

/** In-process kernel and format tiers: each `graft.functions` kernel
  * and the HFile writer/reader timed on the workloads' own generated
  * inputs, as ns per row, per byte or per cell.
  */
object Tiers {
  @volatile private var sink = 0L

  /** Median ns of one pass of `body` over `passes` timed passes, after
    * two warm-up passes. */
  private def passNs(passes: Int)(body: => Long): Double = {
    sink ^= body; sink ^= body
    val ts = (0 until passes).map { _ =>
      val t = System.nanoTime(); sink ^= body; (System.nanoTime() - t).toDouble
    }.sorted
    ts(ts.size / 2)
  }

  def kernels(tsdb: TsdbGen, corpus: CorpusGen, seed: Long): Seq[(String, Double)] = {
    val rnd = new scala.util.Random(seed)
    val n = 20000
    val rows = Array.fill(n)((rnd.nextInt(tsdb.p.series), rnd.nextInt(tsdb.p.hours)))
    val keys = rows.map { case (s, hi) => tsdb.rowkey(s, hi) }
    val bases = rows.map { case (s, _) => tsdb.saltBase(s) }
    val pairs = tsdb.fuzzyPairs
    val pats = pairs.map(_._1).toArray; val masks = pairs.map(_._2).toArray
    val encNs = passNs(7) {
      var acc = 0L; var i = 0
      while (i < n) {
        val (s, hi) = rows(i)
        acc += BytesCodec.encodeShort((s & 15).toShort)(1)
        acc += BytesCodec.encodeInt(tsdb.hourSec(hi))(3)
        acc += BytesCodec.encodeLong(tsdb.ts(hi, s & 1023, 0))(7)
        i += 1
      }
      acc
    } / (3.0 * n)
    val hashNs = passNs(7) {
      var acc = 0L; var i = 0
      while (i < n) { acc += BytesCodec.javaArraysHashCode(bases(i)); i += 1 }
      acc
    } / n
    val fuzzyNs = passNs(7) {
      var acc = 0L; var i = 0
      while (i < n) { if (BytesCodec.fuzzyMatch(keys(i), pats, masks)) acc += 1; i += 1 }
      acc
    } / n

    val docs = (0 until 600).map(i => UTF8String.fromString(corpus.text(i))).toArray
    val docBytes = docs.map(_.numBytes().toLong).sum.toDouble
    val shingles = docs.map(d => TextHashes.wordShingleHashes(d, 3))
    val shNs = passNs(7) {
      var acc = 0L
      docs.foreach(d => acc += TextHashes.wordShingleHashes(d, 3).numElements())
      acc
    } / docBytes
    val mhNs = passNs(7) {
      var acc = 0L
      shingles.foreach(sh => acc += TextHashes.minhashSig(sh, 128).getLong(0))
      acc
    } / docs.length
    val merges = Bpe.frozenMerges
    val ma = merges.map(_._1).toArray; val mb = merges.map(_._2).toArray
    val idMap = bpe.mergeIdMap(merges); val unk = bpe.unkId(merges)
    val bpeNs = passNs(7) {
      var acc = 0L
      docs.foreach(d => acc += BpeKernel.encodeIds(d, ma, mb, idMap, unk).numElements())
      acc
    } / docBytes
    Seq("functions.hb_encode_ns_per_value" -> encNs,
      "functions.salt_hash_ns_per_key" -> hashNs,
      "functions.fuzzy_match_ns_per_row" -> fuzzyNs,
      "functions.shingle_ns_per_byte" -> shNs,
      "functions.minhash_ns_per_doc" -> mhNs,
      "functions.bpe_encode_ns_per_byte" -> bpeNs)
  }

  /** One salt bucket's committed cells, in HFile order. */
  def bucketCells(g: TsdbGen, bucket: Int): Array[HFile.HCell] = {
    val fam = "t".getBytes(UTF_8)
    val cells = for {
      s <- (0 until g.p.series).iterator if g.bucketOf(s) == bucket
      hi <- (0 until g.p.hours).iterator if g.hourSelected(hi)
      (q, t, v) <- g.latestCells(s, hi).iterator
    } yield HFile.HCell(g.saltedKey(s, hi), fam, q.getBytes(UTF_8), t, v)
    cells.toArray.sortWith(HFile.compareCells(_, _) < 0)
  }

  /** Writer, point-get and scan costs on one bucket's HFile, written
    * under `dir` with the load's settings (snappy, default blocks). */
  def format(g: TsdbGen, dir: String, seed: Long): Seq[(String, Double)] = {
    val cells = bucketCells(g, 0)
    val path = s"$dir/format-tier.hfile"
    def write(): Long = {
      val out = new BufferedOutputStream(new FileOutputStream(path), 1 << 16)
      val w = new HFileWriter(out, codec = HFile.CodecSnappy)
      cells.foreach(w.append)
      w.finish(); out.close()
      w.bytesWritten
    }
    val writeNs = passNs(5)(write()) / cells.length
    val fileBytes = new File(path).length()
    val r = new FileRead(path)
    try {
      val cr = new CountingRead(r)
      val rnd = new scala.util.Random(seed)
      val rows = cells.map(c => ByteBuffer.wrap(c.rowkey)).distinct.map(_.array())
      val hits = Array.fill(2000)(rows(rnd.nextInt(rows.length)))
      val unselected = (0 until g.p.hours).filterNot(g.hourSelected)
      val inBucket = (0 until g.p.series).filter(g.bucketOf(_) == 0)
      val misses = Array.fill(500)(g.saltedKey(inBucket(rnd.nextInt(inBucket.length)),
        unselected(rnd.nextInt(unselected.length))))
      // warm the reader path once before counting
      hits.take(200).foreach(k => HFileReader.multiGet(r, Seq(k)))
      def probe(keys: Array[Array[Byte]]): (Double, Double, Double, Int) = {
        cr.reset(); var found = 0
        keys.foreach(k => found += HFileReader.multiGet(cr, Seq(k)).size)
        (cr.reads.toDouble / keys.length, cr.bytes.toDouble / keys.length,
          cr.ioNs / 1e3 / keys.length, found)
      }
      val (hitReads, hitBytes, hitIoUs, hitFound) = probe(hits)
      val (missReads, _, missIoUs, missFound) = probe(misses)
      require(hitFound >= hits.length && missFound == 0,
        s"format tier: gets returned $hitFound hit cells and $missFound miss cells")
      val rejected = misses.count(k => HFileReader.rowkeyMayContain(r, k).contains(false))
      val scanNs = passNs(5) {
        var n = 0L
        HFileReader.scan(new FileRead(path)).foreach(_ => n += 1) // closes it
        n
      } / cells.length
      Seq("sources.write_ns_per_cell" -> writeNs,
        "sources.bytes_per_cell" -> fileBytes.toDouble / cells.length,
        "sources.get_reads_per_hit" -> hitReads,
        "sources.get_read_bytes_per_hit" -> hitBytes,
        "sources.get_io_us_per_get" ->
          (hitIoUs * hits.length + missIoUs * misses.length) / (hits.length + misses.length),
        "sources.get_reads_per_miss" -> missReads,
        "sources.bloom_reject_frac" -> rejected.toDouble / misses.length,
        "sources.scan_ns_per_cell" -> scanNs)
    } finally { r.close(); new File(path).delete() }
  }

  /** A decoded id array (no specials) back to text. */
  def decode(ids: Array[Int], toks: Array[String]): String = {
    val s = BpeKernel.decodeIds(UnsafeArrayData.fromPrimitiveArray(ids), toks)
    if (s == null) null else s.toString
  }
}
