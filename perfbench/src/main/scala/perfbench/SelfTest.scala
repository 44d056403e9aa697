package perfbench

import java.io.{File, RandomAccessFile}
import java.security.MessageDigest

import scala.collection.mutable

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.queries.Pipeline

/** The benchmark's own tests, at a small scale:
  *  - the same seed yields byte-identical generated inputs and another
  *    seed different ones;
  *  - every output check passes on a good output and fails on a
  *    deliberately corrupted copy (a flipped byte in one HFile, a
  *    dropped shard row).
  * Run with `python3 perfbench/run.py --self-test`; exits 1 on a failure.
  */
object SelfTest {
  private val results = mutable.ArrayBuffer[(String, Boolean, String)]()

  private def test(name: String)(body: => Option[String]): Unit = {
    val r = try body catch { case e: Throwable => Some(e.toString) }
    results += ((name, r.isEmpty, r.getOrElse("")))
    println(s"${if (r.isEmpty) "PASS" else "FAIL"} $name${r.map(": " + _).getOrElse("")}")
  }

  private def digest(rows: Iterator[Array[Byte]]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach { b => md.update(java.nio.ByteBuffer.allocate(4).putInt(b.length).array()); md.update(b) }
    md.digest().map(x => f"$x%02x").mkString
  }

  private def tsdbStream(g: TsdbGen): String =
    digest((0L until g.rows).iterator.flatMap(g.sourceCells).map { case (rk, f, q, t, v) =>
      rk ++ f.getBytes("UTF-8") ++ q.getBytes("UTF-8") ++ BigInt(t).toByteArray ++ v
    })

  private def corpusStream(c: CorpusGen): String =
    digest((0 until c.p.docs).iterator.map { i =>
      val (id, text, lang, src, n) = c.doc(i)
      s"$id\t$text\t$lang\t$src\t$n".getBytes("UTF-8")
    })

  /** Content of a written table, rows in a fixed order. */
  private def tableDigest(spark: SparkSession, dir: String, order: Seq[String]): String = {
    val df = spark.read.parquet(dir)
    digest(df.orderBy(order.map(col): _*).collect().iterator
      .map(_.toSeq.map {
        case b: Array[Byte] => b.map(x => f"$x%02x").mkString
        case o => String.valueOf(o)
      }.mkString("\t").getBytes("UTF-8")))
  }

  private def flipByte(path: String, at: Long): Unit = {
    val f = new RandomAccessFile(path, "rw")
    try { f.seek(at); val b = f.read(); f.seek(at); f.write(b ^ 0x5a) } finally f.close()
  }

  def main(args: Array[String]): Unit = {
    val work = new File(args.sliding(2).collectFirst { case Array("--work", d) => d }
      .getOrElse(sys.error("--work DIR required"))).getAbsolutePath
    FileUtils.deleteQuietly(new File(work))
    new File(work).mkdirs()
    val tp = TsdbParams(series = 160, hours = 24)
    val cp = CorpusParams(docs = 1500)
    val spark = graft.Bench.newSession(Main.Cpus.toString)
    try run(spark, work, tp, cp) finally spark.stop()
    val failed = results.count(!_._2)
    println(s"${results.size - failed} passed, $failed failed")
    sys.exit(if (failed == 0) 0 else 1)
  }

  private def run(spark: SparkSession, work: String, tp: TsdbParams, cp: CorpusParams): Unit = {
    test("same seed gives byte-identical tsdb rows; another seed differs") {
      val a = tsdbStream(new TsdbGen(5, tp)); val b = tsdbStream(new TsdbGen(5, tp))
      val c = tsdbStream(new TsdbGen(6, tp))
      if (a != b) Some("same seed, different rows") else if (a == c) Some("seeds 5 and 6 agree") else None
    }
    test("same seed gives byte-identical documents; another seed differs") {
      val a = corpusStream(new CorpusGen(5, cp)); val b = corpusStream(new CorpusGen(5, cp))
      val c = corpusStream(new CorpusGen(6, cp))
      if (a != b) Some("same seed, different docs") else if (a == c) Some("seeds 5 and 6 agree") else None
    }
    test("written source tables are identical for one seed and differ across seeds") {
      val order = Seq("rowkey", "qualifier", "ts")
      Tsdb.genSource(spark, new TsdbGen(5, tp), s"$work/src5a")
      Tsdb.genSource(spark, new TsdbGen(5, tp), s"$work/src5b")
      Tsdb.genSource(spark, new TsdbGen(6, tp), s"$work/src6")
      val a = tableDigest(spark, s"$work/src5a", order)
      if (a != tableDigest(spark, s"$work/src5b", order)) Some("seed 5 written twice differs")
      else if (a == tableDigest(spark, s"$work/src6", order)) Some("seeds 5 and 6 agree")
      else None
    }

    val g = new TsdbGen(5, tp)
    val store = s"$work/store"
    Tsdb.load(spark, g, s"$work/src5a", store)
    test("bulk-load checks pass on the job's output") {
      val bad = Tsdb.checkStore(spark, g, store)
      if (bad.isEmpty) None else Some(bad.mkString("; "))
    }
    val copy = s"$work/store-flipped"
    FileUtils.copyDirectory(new File(store), new File(copy))
    val victim = Tsdb.manifest(spark, copy).maxBy(_.bytes)
    // a byte inside the first data block, past its 33-byte header
    flipByte(s"$copy/${victim.file}", 100)
    test("bulk-load checks fail on a flipped byte in one HFile") {
      if (Tsdb.checkStore(spark, g, copy).nonEmpty) None else Some("corruption not detected")
    }
    test("serve get checks pass on the store and fail on the flipped copy") {
      val keys = (0 until g.p.series).filter(s => g.bucketOf(s) == victim.bucket)
        .flatMap(s => (0 until g.p.hours).filter(g.hourSelected).map(h => (s, h)))
      val good = new Store(spark, store)
      val bad = new Store(spark, copy)
      try {
        def right(st: Store)(s: Int, h: Int): Boolean = {
          val key = g.saltedKey(s, h)
          val got = try st.get(key) catch { case _: Exception => null }
          ServeWorkload.matches(got, key, ServeWorkload.expected(g, s, h))
        }
        val okGood = keys.count { case (s, h) => right(good)(s, h) }
        val okBad = keys.count { case (s, h) => right(bad)(s, h) }
        if (okGood != keys.size) Some(s"${keys.size - okGood} gets wrong on the good store")
        else if (okBad == keys.size) Some("every get matched on the corrupted store")
        else None
      } finally { good.close(); bad.close() }
    }

    val c = new CorpusGen(5, cp)
    Corpus.genDocs(spark, c, s"$work/docs")
    val shards = s"$work/shards"
    val report = Pipeline.corpusExportIdsEos(spark.read.parquet(s"$work/docs"), shards)
      .collect().toSeq
    val texts = (0 until cp.docs).map(i => c.text(i) -> i).toMap
    test("export checks pass on the pipeline's output") {
      val bad = Corpus.checkShards(spark, shards, report, texts)
      if (bad.isEmpty) None else Some(bad.mkString("; "))
    }
    test("export report is identical across runs") {
      val again = Pipeline.corpusExportIdsEos(spark.read.parquet(s"$work/docs"),
        s"$work/shards-again").collect().toSeq
      if (again == report) None else Some("reports differ")
    }
    test("export checks fail on a dropped shard row") {
      val all = spark.read.parquet(shards)
      val drop = all.agg(max("seq_id")).head.getLong(0) / 2
      all.filter(col("seq_id") =!= drop).write.partitionBy("shard").parquet(s"$work/shards-dropped")
      if (Corpus.checkShards(spark, s"$work/shards-dropped", report, texts).nonEmpty) None
      else Some("dropped row not detected")
    }
  }
}
