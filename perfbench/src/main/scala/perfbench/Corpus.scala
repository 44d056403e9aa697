package perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{bpe, txt}
import graft.operators.{Bpe, Dedup}
import graft.queries.Pipeline

/** Workload `corpus_export`: `Pipeline.corpusExportIdsEos` over the
  * seeded corpus — decontaminate → quality → MinHash-LSH fuzzy dedup →
  * anneal → BPE ids → pack (EOS-separated) → shard write. */
final class ExportWorkload(spark: SparkSession, c: CorpusGen, work: String)
    extends Workload {
  private val docsDir = s"$work/documents"
  private val out = s"$work/shards"
  private var firstReport: Seq[Row] = null
  private lazy val texts: Map[String, Int] =
    (0 until c.p.docs).map(i => c.text(i) -> i).toMap
  private lazy val inputBytes: Long =
    (0 until c.p.docs).map(i => c.text(i).getBytes("UTF-8").length.toLong).sum

  val minOps = 2

  def setupOnce(): Unit = Corpus.genDocs(spark, c, docsDir)

  /** Two full-size exports: the first compiles the plan (about twice a
    * warm export's time), and an export keeps getting faster over its
    * first runs in a JVM (JIT). */
  override def warm(): Unit = (0 until 2).foreach(_ => export())

  /** One export as a one-shot run sees it: the pipeline leaves its
    * persisted shingle sets (`Dedup.minhashLsh`) cached, and a later
    * export of the same input would reuse them and skip shingling. */
  private def export(): Seq[Row] = {
    spark.catalog.clearCache()
    Pipeline.corpusExportIdsEos(spark.read.parquet(docsDir), out).collect().toSeq
  }

  def op(trace: Option[Trace]): Sample = {
    val t = System.nanoTime()
    val report = trace match {
      case Some(tr) => tr.action(Workload.currentOp(spark), "export")(export())
      case None => export()
    }
    val s = (System.nanoTime() - t) / 1e9
    if (firstReport == null) firstReport = report
    Sample(s * 1000, c.p.docs / s, report == firstReport)
  }

  def check(): Seq[String] = Corpus.checkShards(spark, out, firstReport, texts)

  def amplification: Double = {
    val root = new Path(out)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = Option(fs.globStatus(new Path(root, "shard=*/*.parquet")))
      .getOrElse(Array.empty)
    files.map(_.getLen).sum.toDouble / inputBytes
  }

  override def extras(ops: Seq[OpStats]): Seq[(String, Double)] = {
    val docs = spark.read.parquet(docsDir)
    val sh = docs.select(col("doc_id"), Dedup.shingleHashes(col("text"), 3).as("sh"))
    val sigs = sh.select(col("doc_id"), txt.minhash(col("sh"), 128).as("sig"))
    val cand = Dedup.lshCandidatePairs(sigs, "doc_id", "sig", 16, 8).count()
    val verified = Dedup.minhashLsh(docs, "doc_id", "text", k = 3, perms = 128,
      bands = 16, threshold = 0.7).count()
    spark.catalog.clearCache()
    val (survivors, tokens, _) = Corpus.decodeAll(spark, out)
    Seq("operators.dedup.candidate_pairs" -> cand.toDouble,
      "operators.dedup.verified_pairs" -> verified.toDouble,
      "operators.dedup.precision" -> (if (cand == 0) 0.0 else verified.toDouble / cand),
      "operators.export.survivor_frac" -> survivors.length.toDouble / c.p.docs,
      "operators.export.tokens" -> tokens.toDouble)
  }
}

object Corpus {
  def genDocs(spark: SparkSession, c: CorpusGen, dir: String): Unit = {
    import spark.implicits._
    spark.range(0, c.p.docs, 1, 8).as[Long].map(i => c.doc(i.toInt))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(dir)
  }

  /** The shards' id stream in sequence order, cut at EOS and decoded:
    * (decoded docs, total tokens, the rows' sequence ids in order). */
  def decodeAll(spark: SparkSession, out: String): (Seq[String], Long, Seq[Long]) = {
    val merges = Bpe.frozenMerges
    val eos = bpe.eosId(merges)
    val toks = bpe.decodeTokTable(merges)
    val rows = spark.read.parquet(out).select("seq_id", "ids").collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1))).sortBy(_._1)
    val docs = mutable.ArrayBuffer[String]()
    val cur = mutable.ArrayBuilder.make[Int]
    var tokens = 0L
    rows.foreach { case (_, ids) =>
      ids.foreach { id =>
        tokens += 1
        if (id == eos) { docs += Tiers.decode(cur.result(), toks); cur.clear() }
        else cur += id
      }
    }
    (docs.toSeq, tokens, rows.map(_._1).toSeq)
  }

  /** Output checks of one export directory; returns the failures. */
  def checkShards(spark: SparkSession, out: String,
                  report: Seq[Row], texts: Map[String, Int]): Seq[String] = {
    val bad = mutable.ArrayBuffer[String]()
    val (docs, tokens, seqIds) =
      try decodeAll(spark, out)
      catch { case e: Exception => bad += s"shards unreadable: $e"; (Nil, 0L, Nil) }
    if (seqIds != seqIds.indices.map(_.toLong))
      bad += s"sequence ids are not contiguous from 0 (${seqIds.size} rows)"
    val reportTokens = report.map(_.getAs[Long]("n_tokens")).sum
    val reportSeqs = report.map(_.getAs[Long]("n_seqs")).sum
    if (tokens != reportTokens) bad += s"shards hold $tokens tokens, report says $reportTokens"
    if (seqIds.size != reportSeqs) bad += s"shards hold ${seqIds.size} rows, report says $reportSeqs"
    if (docs.isEmpty) bad += "no document was exported"
    val undecodable = docs.count(d => d == null || !texts.contains(d))
    if (undecodable > 0) bad += s"$undecodable exported docs do not round-trip to an input text"
    val norm = docs.filter(_ != null).map(_.trim.toLowerCase.replaceAll("\\s+", " "))
    if (norm.distinct.size != norm.size)
      bad += s"${norm.size - norm.distinct.size} exact duplicates survived together"
    bad.take(20).toSeq
  }
}
