package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

import graft.functions.hb
import graft.operators.{BulkLoad, Cells}
import graft.sources.{HFile, HFileManifest, HFileReader}

/** The TSDB bulk-load job and its output checks (workload `tsdb_bulkload`;
  * `hfile_serve` builds its store with the same job).
  */
object Tsdb {
  val Partitions = 32

  /** Writes the seeded source table (all versions) as parquet. */
  def genSource(spark: SparkSession, g: TsdbGen, dir: String): Unit = {
    import spark.implicits._
    spark.range(0, g.rows, 1, 8).as[Long].flatMap(i => g.sourceCells(i))
      .toDF("rowkey", "family", "qualifier", "ts", "value")
      .write.mode("overwrite").parquet(dir)
  }

  /** The reference job: fuzzy hour scan → latest version → salt (16
    * buckets) → range sort → snappy HFiles with a `_manifest`. */
  def load(spark: SparkSession, g: TsdbGen, src: String, out: String): Unit = {
    val scanned = spark.read.parquet(src)
      .filter(hb.fuzzyRowMatch(col("rowkey"), g.fuzzyPairs))
    val latest = Cells.latestVersion(scanned)
    val saltBase = concat(substring(col("rowkey"), 1, 3), expr("substring(rowkey, 8)"))
    val epochSec = hb.decode(substring(col("rowkey"), 4, 4), IntegerType)
    val prepared = BulkLoad.prepare(latest, g.p.buckets, Partitions,
      Some(saltBase), Some(epochSec))
    BulkLoad.writeHFiles(prepared, out, tsCol = Some("ts"), compression = "snappy")
  }

  def manifest(spark: SparkSession, dir: String): Seq[HFileManifest.Entry] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    HFileManifest.read(fs, root).getOrElse(Nil)
  }

  /** Full output check of a bulk-load directory; returns the failures. */
  def checkStore(spark: SparkSession, g: TsdbGen, dir: String): Seq[String] = {
    val bad = mutable.ArrayBuffer[String]()
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listing = Option(fs.globStatus(new Path(root, "bucket=*/*.hfile")))
      .getOrElse(Array.empty).toSeq
    val entries = HFileManifest.readValid(fs, root, listing).getOrElse {
      bad += s"_manifest missing or does not match the ${listing.size} files"
      Nil
    }
    // validate formats every cell key as hex, so files are checked on
    // a small pool; the scan then hashes every cell
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Main.Cpus)
    val perFile = try entries.map { e =>
      pool.submit(new java.util.concurrent.Callable[(Long, Long, Seq[String])] {
        def call(): (Long, Long, Seq[String]) = {
          val path = s"$dir/${e.file}"
          val errs = mutable.ArrayBuffer[String]()
          var n = 0L; var hs = 0L
          try {
            // validate and scan each close the reader they are given
            val st = HFileReader.validate(new FileRead(path))
            if (st.nCells != e.entryCount)
              errs += s"${e.file}: ${st.nCells} cells, manifest ${e.entryCount}"
            HFileReader.scan(new FileRead(path)).foreach { c =>
              val b = ((c.rowkey(0) & 0xff) << 8) | (c.rowkey(1) & 0xff)
              if (b != e.bucket) errs += s"${e.file}: cell of bucket $b in bucket ${e.bucket}"
              n += 1
              hs += Mix.cellHash(c.rowkey, c.qualifier, c.ts, c.value)
            }
          } catch { case ex: Exception => errs += s"${e.file}: $ex" }
          (n, hs, errs.take(3).toSeq)
        }
      })
    }.map(_.get()) finally pool.shutdown()
    val cells = perFile.map(_._1).sum
    val hsum = perFile.map(_._2).sum
    perFile.foreach(bad ++= _._3)
    entries.groupBy(_.bucket).foreach { case (b, es) =>
      es.sortWith((x, y) => java.util.Arrays.compareUnsigned(x.minKey, y.minKey) < 0)
        .sliding(2).foreach {
          case Seq(x, y) if java.util.Arrays.compareUnsigned(x.maxKey, y.minKey) >= 0 =>
            bad += s"bucket $b: ${x.file} overlaps ${y.file}"
          case _ =>
        }
    }
    val (wantN, wantH) = g.expectedStore
    if (cells != wantN) bad += s"store holds $cells cells, generator expects $wantN"
    if (hsum != wantH) bad += "store content hash differs from the generator's"
    bad.take(20).toSeq
  }
}

/** Workload `tsdb_bulkload`: the full reference job, repeated. */
final class BulkLoadWorkload(spark: SparkSession, g: TsdbGen, work: String)
    extends Workload {
  private val src = s"$work/source"
  private val out = s"$work/hfiles"
  val minOps = 3

  def setupOnce(): Unit = Tsdb.genSource(spark, g, src)

  /** Full-size loads: a load keeps getting faster over its first four
    * runs in a JVM (JIT), so timing starts after them. */
  override def warm(): Unit = (0 until 4).foreach(_ => Tsdb.load(spark, g, src, out))

  def op(trace: Option[Trace]): Sample = {
    val t = System.nanoTime()
    trace match {
      case Some(tr) => tr.action(Workload.currentOp(spark), "load")(Tsdb.load(spark, g, src, out))
      case None => Tsdb.load(spark, g, src, out)
    }
    val s = (System.nanoTime() - t) / 1e9
    val m = Tsdb.manifest(spark, out)
    val cells = m.map(_.entryCount).sum
    Sample(s * 1000, cells / s, cells == g.expectedStore._1)
  }

  def check(): Seq[String] = Tsdb.checkStore(spark, g, out)

  def amplification: Double =
    Tsdb.manifest(spark, out).map(_.bytes).sum.toDouble / g.expectedUserBytes

  override def extras(ops: Seq[OpStats]): Seq[(String, Double)] = {
    val m = Tsdb.manifest(spark, out)
    // stages labelled from their RDD scope names: the range-bounds
    // sample is the result stage that re-runs the aggregate, the write
    // is the result stage that runs the writer's MapPartitions
    def per(f: StageRec => Boolean) = Workload.mean(ops.map(o =>
      o.stageRecs.map(_._2).filter(f).map(r => (r.completeMs - r.submitMs) / 1000.0).sum))
    def writes(r: StageRec) = !r.shuffleMap && r.scopes.contains("MapPartitions")
    Seq("sources.files_written" -> m.size.toDouble,
      "sources.mean_file_bytes" -> (if (m.isEmpty) 0.0 else m.map(_.bytes).sum.toDouble / m.size),
      "store_bytes_per_user_byte" -> amplification,
      "operators.bulkload.sample_s" ->
        per(r => !r.shuffleMap && !writes(r) && r.scopes.contains("Exchange")),
      "operators.bulkload.shuffle_stage_s" -> per(_.shuffleMap),
      "operators.bulkload.write_stage_s" -> per(writes))
  }
}

/** A built store: `_manifest` entries sorted by first key, each file
  * opened once for point gets. */
final class Store(spark: SparkSession, val dir: String) {
  val entries: Array[HFileManifest.Entry] = Tsdb.manifest(spark, dir).toArray
    .sortWith((x, y) => java.util.Arrays.compareUnsigned(x.minKey, y.minKey) < 0)
  private val mins = entries.map(_.minKey)
  private val maxs = entries.map(_.maxKey)
  val readers: Array[CountingRead] =
    entries.map(e => new CountingRead(new FileRead(s"$dir/${e.file}")))

  /** The file whose `_manifest` key range covers `key`, if any. */
  def route(key: Array[Byte]): Int = {
    var lo = 0; var hi = mins.length - 1; var idx = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (java.util.Arrays.compareUnsigned(mins(mid), key) <= 0) { idx = mid; lo = mid + 1 }
      else hi = mid - 1
    }
    if (idx >= 0 && java.util.Arrays.compareUnsigned(key, maxs(idx)) <= 0) idx else -1
  }

  def get(key: Array[Byte]): Seq[HFile.HCell] = {
    val i = route(key)
    if (i < 0) Nil else HFileReader.multiGet(readers(i), Seq(key))
  }

  def readBytes: Long = readers.map(_.bytes).sum
  def close(): Unit = readers.foreach(_.close())
}

/** Workload `hfile_serve`: a seeded closed loop of rounds over the
  * store the bulk-load job built; each round is `GetsPerRound` point
  * gets spread over `Clients` threads, then one multiget batch and one
  * time-window scan. */
final class ServeWorkload(spark: SparkSession, g: TsdbGen, work: String, seed: Long)
    extends Workload {
  import ServeWorkload._
  private val src = s"$work/source"
  private val dir = s"$work/store"
  private var store: Store = _
  private val rnd = new scala.util.Random(seed * 31 + 7)
  private val selected = (0 until g.p.hours).filter(g.hourSelected).toArray
  private val lo = selected.min; private val hi = selected.max
  private val inRangeMiss = (lo to hi).filterNot(g.hourSelected).toArray
  require(inRangeMiss.nonEmpty, "no unselected hour inside the selected range")

  val getMs = mutable.ArrayBuffer[Double]()
  val scanMs = mutable.ArrayBuffer[Double]()
  val multiMs = mutable.ArrayBuffer[Double]()
  var attempted = 0L
  var failed = 0L
  private var returnedBytes = 0L
  private var readBase = 0L

  val minOps = 5

  override def prepare(): Unit = Tsdb.genSource(spark, g, src)

  def setupOnce(): Unit = {
    if (store != null) store.close()
    Tsdb.load(spark, g, src, dir)
    store = new Store(spark, dir)
  }

  /** (series, hour): 90 % hits — 80 % of them on the hot 1 % of
    * series — and 10 % misses in the selected hours' key range. */
  private def pick(): (Int, Int) = {
    if (rnd.nextDouble() < HitShare) {
      val s = if (rnd.nextDouble() < HotShare) g.hotSeries(rnd.nextInt(g.hotSeries.length))
              else rnd.nextInt(g.p.series)
      (s, selected(rnd.nextInt(selected.length)))
    } else (rnd.nextInt(g.p.series), inRangeMiss(rnd.nextInt(inRangeMiss.length)))
  }

  /** `n` seeded point gets, split over `Clients` closed-loop threads. */
  private def gets(n: Int, record: Boolean): Unit = {
    val picks = Array.fill(n)(pick())
    val lat = new Array[Double](n)
    val ok = new Array[Boolean](n)
    val bytes = new Array[Long](n)
    val threads = (0 until Clients).map { c =>
      new Thread(() => {
        var i = c
        while (i < n) {
          val (s, h) = picks(i)
          val key = g.saltedKey(s, h)
          val t = System.nanoTime()
          val got = try store.get(key) catch { case _: Exception => null }
          lat(i) = (System.nanoTime() - t) / 1e6
          ok(i) = matches(got, key, expected(g, s, h))
          if (got != null) bytes(i) = userBytes(got)
          i += Clients
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    if (record) {
      getMs ++= lat; attempted += n
      failed += ok.count(!_)
      returnedBytes += bytes.sum
    }
  }

  private def multiget(): (Double, Int, Boolean) = try multigetOnce()
    catch { case e: Exception => System.err.println(s"perfbench: multiget: $e"); (1.0, 0, false) }

  private def multigetOnce(): (Double, Int, Boolean) = {
    val picks = Array.fill(MultiGetKeys)(pick())
    val keys = picks.map { case (s, h) => g.saltedKey(s, h) }
    val t = System.nanoTime()
    val rows = BulkLoad.multiGet(spark,
        dir, spark.createDataset(keys.toSeq)(Encoders.BINARY).toDF("rowkey"))
      .select("rowkey", "qualifier", "ts", "value").collect()
    val s = (System.nanoTime() - t) / 1e9
    var wantN = 0L; var wantH = 0L
    picks.distinct.foreach { case (sr, h) =>
      val k = g.saltedKey(sr, h)
      ServeWorkload.expected(g, sr, h).foreach { case (q, ts, v) =>
        wantN += 1; wantH += Mix.cellHash(k, q.getBytes(UTF_8), ts, v)
      }
    }
    val gotH = rows.map(r => Mix.cellHash(r.getAs[Array[Byte]](0),
      r.getString(1).getBytes(UTF_8), r.getLong(2), r.getAs[Array[Byte]](3))).sum
    (s, keys.length, rows.length == wantN && gotH == wantH)
  }

  private def scan(): (Double, Long, Boolean) = try scanOnce()
    catch { case e: Exception => System.err.println(s"perfbench: scan: $e"); (1.0, 0L, false) }

  private def scanOnce(): (Double, Long, Boolean) = {
    // a window spanning exactly ScanHours selected hours, so every scan
    // returns about the same number of cells
    val k = rnd.nextInt(selected.length - ScanHours + 1)
    val h0 = selected(k)
    val h1 = selected(k + ScanHours - 1) + 1
    def bound(b: Int, h: Int) = java.nio.ByteBuffer.allocate(6)
      .putShort(b.toShort).putInt(g.hourSec(h)).array()
    val pred = (0 until g.p.buckets).map { b =>
      col("rowkey") >= lit(bound(b, h0)) && col("rowkey") < lit(bound(b, h1))
    }.reduce(_ || _)
    val t = System.nanoTime()
    val n = spark.read.format("graft-hfile").load(dir).filter(pred).count()
    val s = (System.nanoTime() - t) / 1e9
    val want = (0 until g.p.series).map { sr =>
      (h0 until h1).filter(g.hourSelected)
        .map(h => g.offsets(sr, h).length).sum.toLong
    }.sum
    (s, n, n == want)
  }

  override def warm(): Unit = {
    (0 until WarmRounds).foreach { _ =>
      gets(GetsPerRound, record = false)
      multiget(); scan()
    }
    readBase = store.readBytes
  }

  def op(trace: Option[Trace]): Sample = {
    val t = System.nanoTime()
    gets(GetsPerRound, record = true)
    val (ms, nk, mok) = trace match {
      case Some(tr) => tr.action(Workload.currentOp(spark), "multiget")(multiget())
      case None => multiget()
    }
    val (ss, nc, sok) = trace match {
      case Some(tr) => tr.action(Workload.currentOp(spark), "scan")(scan())
      case None => scan()
    }
    multiMs += ms * 1000; scanMs += ss * 1000
    attempted += 2
    if (!mok) failed += 1
    if (!sok) failed += 1
    Sample((System.nanoTime() - t) / 1e6, (nk + nc) / (ms + ss), mok && sok)
  }

  def check(): Seq[String] =
    if (failed > 0) Seq(s"$failed of $attempted serve operations returned wrong results")
    else Nil

  def amplification: Double =
    (store.readBytes - readBase).toDouble / math.max(1L, returnedBytes)

  override def extras(ops: Seq[OpStats]): Seq[(String, Double)] = {
    def stages(o: OpStats, label: String) =
      o.stageRecs.filter(r => o.stageAction.get(r._1).contains(label)).map(_._2)
    def stageS(r: StageRec) = (r.completeMs - r.submitMs) / 1000.0
    // the scan stage runs one task per HFile the pruned plan opens
    val opened = Workload.mean(ops.map(o => stages(o, "scan")
      .filter(_.scopes.exists(_.startsWith("BatchScan"))).map(_.tasks.toDouble).sum))
    Seq("operators.multiget.tasks" -> Workload.mean(ops.map(o =>
        stages(o, "multiget").map(_.tasks.toDouble).sum)),
      "operators.multiget.stage_s" -> Workload.mean(ops.map(o =>
        stages(o, "multiget").map(stageS).sum)),
      "sources.scan_files_opened" -> opened,
      "sources.scan_files_pruned_frac" -> (1 - opened / store.entries.length),
      "serve.get_p50_us" -> Workload.median(getMs.toSeq) * 1000,
      "serve.get_p99_us" -> Workload.quantile(getMs.toSeq, 0.99) * 1000,
      "serve.get_samples" -> getMs.size.toDouble,
      "serve.scan_p50_ms" -> Workload.median(scanMs.toSeq),
      "serve.multiget_keys_per_s" -> MultiGetKeys / (Workload.median(multiMs.toSeq) / 1000))
  }

  override def close(): Unit = if (store != null) store.close()
}

object ServeWorkload {
  def expected(g: TsdbGen, s: Int, h: Int): Array[(String, Long, Array[Byte])] =
    if (g.hourSelected(h)) g.latestCells(s, h) else Array.empty

  /** Whether a get of `key` returned exactly the generator's cells; a
    * failed read (null) counts as a wrong answer. */
  def matches(got: Seq[HFile.HCell], key: Array[Byte],
              want: Array[(String, Long, Array[Byte])]): Boolean =
    got != null && got.size == want.length && got.zip(want).forall { case (c, (q, ts, v)) =>
      java.util.Arrays.equals(c.rowkey, key) && new String(c.qualifier, UTF_8) == q &&
        c.ts == ts && java.util.Arrays.equals(c.value, v)
    }

  def userBytes(cells: Seq[HFile.HCell]): Long =
    cells.map(c => c.rowkey.length + c.qualifier.length + c.value.length).sum.toLong

  val HitShare = 0.9
  val HotShare = 0.8
  val GetsPerRound = 4000
  /** Untimed rounds before timing starts; the multiget and scan jobs
    * keep getting faster over their first few runs (JIT). */
  val WarmRounds = 3
  /** Closed-loop get clients. One client's latency tracks the host's
    * per-core speed, which swings ±25 % over seconds on a shared box;
    * four clients spread over all cores give a steady median. */
  val Clients = 4
  val MultiGetKeys = 2000
  val ScanHours = 3
}
