package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One measured operation: its wall time, its work rate (items per
  * second) and whether its output matched the generator. */
final case class Sample(ms: Double, rate: Double, ok: Boolean)

trait Workload {
  /** Fewest untraced ops a run measures, however short `--seconds` is. */
  def minOps: Int
  /** Untimed one-off input generation before the set-ups. */
  def prepare(): Unit = ()
  /** One set-up: write the generated inputs (for serving, build the
    * store); timed and repeated, `setup_s` is the median. */
  def setupOnce(): Unit
  /** Untimed passes that let the JIT and caches settle. */
  def warm(): Unit
  def op(trace: Option[Trace]): Sample
  /** Full output checks after the run; returns the failures. */
  def check(): Seq[String]
  /** Bytes stored or read per user byte delivered. */
  def amplification: Double
  /** Workload-specific layer counts for the trace artifact. */
  def extras(ops: Seq[OpStats]): Seq[(String, Double)] = Nil
  def close(): Unit = ()
}

object Workload {
  def currentOp(spark: SparkSession): String =
    spark.sparkContext.getLocalProperty(Trace.OpProperty)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val i = pos.toInt
    if (i + 1 >= s.size) s.last else s(i) + (pos - i) * (s(i + 1) - s(i))
  }
}

/** Benchmark entry point:
  * `--workload W --seed N --seconds S --trace 0|1 --work DIR`.
  * Prints a `perfbench-result` line; exits 1 when an output check fails.
  */
object Main {
  val Workloads = Seq("tsdb_bulkload", "hfile_serve", "corpus_export")
  val Cpus = 4
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt.getOrElse("workload", "")
    require(Workloads.contains(workload), s"--workload must be one of ${Workloads.mkString(", ")}")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val work = new File(opt("work"), workload).getAbsolutePath
    new File(work).mkdirs()
    val t0 = System.nanoTime()
    val spark = graft.Bench.newSession(Cpus.toString)
    Phases.mark("session", t0)
    val code = try run(spark, workload, seed, seconds, traced, work)
      finally spark.stop()
    Phases.print()
    sys.exit(code)
  }

  def run(spark: SparkSession, workload: String, seed: Long, seconds: Double,
          traced: Boolean, work: String): Int = {
    var t = System.nanoTime()
    val (probeSingle, probeMulti) = graft.Bench.hostProbe(Cpus)
    Phases.mark("probe", t)
    val rt = ManagementFactory.getRuntimeMXBean
    val env = Seq(
      "host_probe_single_s" -> Json.num(probeSingle),
      "host_probe_multi_s" -> Json.num(probeMulti),
      "nproc" -> Runtime.getRuntime.availableProcessors().toString,
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory() / 1048576.0),
      "jvm_flags" -> Json.str(rt.getInputArguments.asScala.mkString(" ")),
      "spark_conf" -> Json.str(spark.sparkContext.getConf.getAll
        .filter(_._1.startsWith("spark.")).sorted.map { case (k, v) => s"$k=$v" }.mkString(" ")))
    println("perfbench-env " + env.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}"))

    val tsdb = new TsdbGen(seed, TsdbParams())
    val corpus = new CorpusGen(seed, CorpusParams())
    val w: Workload = workload match {
      case "tsdb_bulkload" => new BulkLoadWorkload(spark, tsdb, work)
      case "hfile_serve"   => new ServeWorkload(spark, tsdb, work, seed)
      case "corpus_export" => new ExportWorkload(spark, corpus, work)
    }
    try {
      w.prepare()
      t = System.nanoTime()
      val setups = (0 until SetupReps).map { _ =>
        val t = System.nanoTime(); w.setupOnce(); (System.nanoTime() - t) / 1e9
      }
      Phases.mark("setup", t); t = System.nanoTime()
      w.warm()
      Phases.mark("warm", t); t = System.nanoTime()
      val trace = if (traced) Some(new Trace(spark.sparkContext)) else None
      val plain = mutable.ArrayBuffer[Sample]()
      val withTrace = mutable.ArrayBuffer[Sample]()
      val stats = mutable.ArrayBuffer[OpStats]()
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      // trace mode runs ops in the order untraced, traced, traced,
      // untraced, ... so any drift over the run cancels in the overhead,
      // which is measured on the same inputs in the same JVM
      var i = 0
      while (System.nanoTime() < deadline ||
             plain.size < (if (traced) 2 else w.minOps) ||
             (traced && withTrace.size < 2)) {
        trace match {
          case Some(tr) if i % 4 == 1 || i % 4 == 2 =>
            val (s, st) = tr.op(workload, s"$workload op $i")(w.op(trace))
            withTrace += s; stats += st
          case _ => plain += w.op(None)
        }
        i += 1
      }
      Phases.mark("measure", t); t = System.nanoTime()
      val failures = w.check()
      Phases.mark("check", t); t = System.nanoTime()
      failures.foreach(f => System.err.println(s"perfbench: check failed: $f"))
      val all = plain ++ withTrace
      val (attempted, failed) = w match {
        case s: ServeWorkload => (s.attempted, s.failed)
        case _ => (all.size.toLong, all.count(!_.ok).toLong)
      }
      val failedTotal = failed + (if (failures.nonEmpty && failed == 0) 1 else 0)
      val correct = failures.isEmpty && failed == 0

      val metrics: Seq[(String, Double)] = trace match {
        case None =>
          val opMs = w match {
            case s: ServeWorkload => Workload.median(s.getMs.toSeq)
            case _ => Workload.median(plain.map(_.ms).toSeq)
          }
          Seq("setup_s" -> Workload.median(setups),
            "op_p50_ms" -> opMs,
            "work_per_s" -> Workload.median(plain.map(_.rate).toSeq),
            "bytes_per_user_byte" -> w.amplification)
        case Some(tr) =>
          tr.stop()
          val layer = perLayer(tr, stats.toSeq, plain.toSeq, withTrace.toSeq) ++
            Tiers.kernels(tsdb, corpus, seed) ++
            Tiers.format(tsdb, work, seed)
          val extra = w.extras(stats.toSeq)
          Files.write(new File(work, s"trace-seed$seed.json").toPath,
            tr.json(workload, seed, (layer ++ extra).toMap).getBytes(UTF_8))
          println("perfbench-extra " + Json.obj(extra))
          Phases.mark("trace_tiers", t)
          layer
      }
      // run.py adds each metric's unit from BENCHMARK.json
      println(s"""perfbench-result {"correct":$correct,"attempted":$attempted,""" +
        s""""failed":$failedTotal,"metrics":${Json.obj(metrics)}}""")
      if (correct) 0 else 1
    } finally w.close()
  }

  private def perLayer(tr: Trace, ops: Seq[OpStats], plain: Seq[Sample],
                       traced: Seq[Sample]): Seq[(String, Double)] = {
    import Workload.{mean, median}
    val wallS = ops.map(_.wallMs / 1000).sum
    Seq("engine.plan_ms" -> median(ops.flatMap(_.planMs)),
      "engine.jobs" -> mean(ops.map(_.jobs.toDouble)),
      "engine.stages" -> mean(ops.map(_.stages.toDouble)),
      "engine.tasks" -> mean(ops.map(_.tasks.toDouble)),
      "engine.shuffle_write_bytes" -> mean(ops.map(_.shuffleWrite.toDouble)),
      "engine.shuffle_read_bytes" -> mean(ops.map(_.shuffleRead.toDouble)),
      "engine.spill_bytes" -> mean(ops.map(_.spill.toDouble)),
      "engine.cpu_busy_frac" -> ops.map(_.cpuS).sum / (wallS * Cpus),
      "engine.driver_s" -> mean(ops.map(_.driverS)),
      "engine.task_skew" -> median(ops.map(_.taskSkew)),
      "engine.gc_s" -> mean(ops.map(_.gcS)),
      "engine.peak_exec_mem_mb" -> ops.map(_.peakExecMem).max / 1048576.0,
      "jvm.peak_heap_mb" -> tr.peakHeapMb,
      "operators.shuffle_stage_s" -> mean(ops.map(_.shuffleStageS)),
      "operators.result_stage_s" -> mean(ops.map(_.resultStageS)),
      "trace.overhead_frac" -> (median(traced.map(_.ms)) / median(plain.map(_.ms)) - 1))
  }
}

/** Wall seconds of each phase of the run, printed to stderr. */
object Phases {
  private val marks = mutable.ArrayBuffer[(String, Double)]()
  def mark(name: String, since: Long): Unit =
    marks += name -> (System.nanoTime() - since) / 1e9
  def print(): Unit = System.err.println("perfbench: phases " +
    marks.map { case (k, v) => f"$k=$v%.1fs" }.mkString(" "))
}
