package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One span: workload run → op → Spark job → stage. Spans of one op
  * share `op`. Times are epoch milliseconds.
  */
final case class Span(id: Int, parent: Int, op: String, kind: String,
                      name: String, startMs: Long, endMs: Long,
                      attrs: Map[String, Double] = Map.empty)

/** Per-stage totals, summed from task-end events. */
final class StageRec(val stageId: Int) {
  var name = ""
  var scopes: Seq[String] = Nil
  var shuffleMap = false
  var submitMs = 0L
  var completeMs = 0L
  var tasks = 0
  val taskMs = mutable.ArrayBuffer[Long]()
  var cpuNs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var peakExecMem = 0L
}

final class JobRec(val jobId: Int, val op: String, val startMs: Long,
                   val stageIds: Seq[Int]) {
  var endMs = 0L
}

/** The benchmark's own SparkListener: attached only around traced ops,
  * so untraced ops run exactly as they would without the benchmark.
  */
final class EngineListener extends SparkListener {
  val jobs = mutable.ArrayBuffer[JobRec]()
  val stages = mutable.HashMap[Int, StageRec]()

  private def stage(id: Int): StageRec = stages.getOrElseUpdate(id, new StageRec(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Trace.OpProperty))).getOrElse("")
    jobs += new JobRec(e.jobId, op, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.jobId == e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val s = stage(i.stageId)
    s.name = i.name
    s.scopes = i.rddInfos.flatMap(_.scope.map(_.name)).distinct
    s.shuffleMap = org.apache.spark.perfbench.Internals.isShuffleMap(i)
    s.submitMs = i.submissionTime.getOrElse(0L)
    s.completeMs = i.completionTime.getOrElse(0L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    s.tasks += 1
    s.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      s.cpuNs += m.executorCpuTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.peakExecMem = math.max(s.peakExecMem, m.peakExecutionMemory)
    }
  }
}

/** Engine-level numbers of one traced op. */
final case class OpStats(wallMs: Double, jobs: Int, stages: Int, tasks: Int,
                         planMs: Seq[Double], shuffleWrite: Long,
                         shuffleRead: Long, spill: Long, cpuS: Double,
                         driverS: Double, taskSkew: Double, gcS: Double,
                         peakExecMem: Long, shuffleStageS: Double,
                         resultStageS: Double,
                         stageRecs: Seq[(Int, StageRec)],
                         stageAction: Map[Int, String])

/** Spans and counts of one run, kept in memory and written at the end. */
final class Trace(sc: SparkContext) {
  val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 1
  val runStart: Long = System.currentTimeMillis()

  def newId(): Int = synchronized { val i = nextId; nextId += 1; i }

  /** Heap sampler: peak used heap over the whole run. */
  @volatile private var peakHeap = 0L
  @volatile private var sampling = true
  private val sampler = new Thread(() => {
    val mem = ManagementFactory.getMemoryMXBean
    while (sampling) {
      peakHeap = math.max(peakHeap, mem.getHeapMemoryUsage.getUsed)
      Thread.sleep(10)
    }
  }, "perfbench-heap-sampler")
  sampler.setDaemon(true)
  sampler.start()

  def peakHeapMb: Double = peakHeap / 1048576.0

  def stop(): Unit = { sampling = false; sampler.join() }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  private val actionCalls = mutable.ArrayBuffer[(String, String, Long)]()

  /** Marks Spark action `label` inside traced op `op`: plan time is the
    * gap from this call to the first job it starts, and the jobs started
    * until the op's next action are attributed to it.
    */
  def action[T](op: String, label: String)(body: => T): T = {
    actionCalls.synchronized(actionCalls += ((op, label, System.currentTimeMillis())))
    body
  }

  /** Runs `body` as traced op `name`: attaches a listener, tags the
    * op's jobs with a local property, and records its spans.
    */
  def op[T](kind: String, name: String)(body: => T): (T, OpStats) = {
    val opId = s"$kind-${newId()}"
    val l = new EngineListener
    sc.addSparkListener(l)
    sc.setLocalProperty(Trace.OpProperty, opId)
    val gc0 = gcMs
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val out = try body finally sc.setLocalProperty(Trace.OpProperty, null)
    val wallMs = (System.nanoTime() - n0) / 1e6
    val t1 = System.currentTimeMillis()
    val gc = (gcMs - gc0) / 1000.0
    org.apache.spark.perfbench.Internals.drain(sc)
    sc.removeSparkListener(l)
    // the listener is attached only during this op, so untagged jobs
    // (started from other threads) belong to it too
    val jobs = l.synchronized(l.jobs.filter(j => j.op == opId || j.op.isEmpty).toSeq)
    val stats = l.synchronized(summarize(l, jobs, opId, wallMs, gc))
    record(opId, kind, name, t0, t1, l, jobs, stats)
    (out, stats)
  }

  private def summarize(l: EngineListener, jobs: Seq[JobRec], opId: String,
                        wallMs: Double, gcS: Double): OpStats = {
    val stageIds = jobs.flatMap(_.stageIds).distinct
    val recs = stageIds.flatMap(id => l.stages.get(id).map(id -> _))
      .filter(_._2.tasks > 0)
    val calls = actionCalls.synchronized {
      val c = actionCalls.filter(_._1 == opId).map(c => (c._2, c._3)).toSeq.sortBy(_._2)
      actionCalls --= actionCalls.filter(_._1 == opId)
      c
    }
    val starts = jobs.map(_.startMs).sorted
    val planMs = calls.flatMap(c => starts.find(_ >= c._2).map(s => (s - c._2).toDouble))
    val stageAction = jobs.flatMap { j =>
      calls.filter(_._2 <= j.startMs).lastOption.map(c => j.stageIds.map(_ -> c._1))
        .getOrElse(Nil)
    }.toMap
    // driver time: wall minus the union of stage intervals
    val ivs = recs.map(r => (r._2.submitMs, r._2.completeMs))
      .filter(iv => iv._1 > 0 && iv._2 >= iv._1).sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    ivs.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    val skews = recs.map(_._2).filter(_.taskMs.size >= 2).map { r =>
      val ms = r.taskMs.sorted
      ms.last.toDouble / math.max(1L, ms(ms.size / 2)).toDouble
    }
    def stageS(r: StageRec) = math.max(0L, r.completeMs - r.submitMs) / 1000.0
    OpStats(wallMs, jobs.size, recs.size, recs.map(_._2.tasks).sum, planMs.toSeq,
      recs.map(_._2.shuffleWrite).sum, recs.map(_._2.shuffleRead).sum,
      recs.map(_._2.spill).sum, recs.map(_._2.cpuNs).sum / 1e9,
      math.max(0.0, wallMs / 1000.0 - covered / 1000.0),
      if (skews.isEmpty) 1.0 else skews.max, gcS,
      if (recs.isEmpty) 0L else recs.map(_._2.peakExecMem).max,
      recs.filter(_._2.shuffleMap).map(r => stageS(r._2)).sum,
      recs.filterNot(_._2.shuffleMap).map(r => stageS(r._2)).sum,
      recs.toSeq, stageAction)
  }

  private def record(opId: String, kind: String, name: String, t0: Long,
                     t1: Long, l: EngineListener, jobs: Seq[JobRec],
                     st: OpStats): Unit = synchronized {
    val opSpan = newId()
    spans += Span(opSpan, 0, opId, kind, name, t0, t1, Map(
      "jobs" -> st.jobs, "stages" -> st.stages, "tasks" -> st.tasks,
      "shuffle_write_bytes" -> st.shuffleWrite.toDouble,
      "shuffle_read_bytes" -> st.shuffleRead.toDouble,
      "cpu_s" -> st.cpuS, "driver_s" -> st.driverS, "gc_s" -> st.gcS))
    jobs.foreach { j =>
      val jobSpan = newId()
      spans += Span(jobSpan, opSpan, opId, "job", s"job ${j.jobId}", j.startMs,
        j.endMs)
      j.stageIds.flatMap(l.stages.get).filter(_.tasks > 0).foreach { s =>
        val ms = s.taskMs.sorted
        spans += Span(newId(), jobSpan, opId, "stage",
          s"${s.stageId}: ${s.name} [${s.scopes.mkString(", ")}]",
          s.submitMs, s.completeMs, Map("tasks" -> s.tasks,
            "shuffle_map" -> (if (s.shuffleMap) 1.0 else 0.0),
            "cpu_s" -> s.cpuNs / 1e9, "shuffle_write_bytes" -> s.shuffleWrite,
            "shuffle_read_bytes" -> s.shuffleRead, "spill_bytes" -> s.spill,
            "task_ms_max" -> ms.last, "task_ms_median" -> ms(ms.size / 2)))
      }
    }
  }

  def json(workload: String, seed: Long, counts: Map[String, Double]): String = {
    val sb = new StringBuilder
    sb.append("{\"workload\":").append(Json.str(workload))
      .append(",\"seed\":").append(seed)
      .append(",\"counts\":").append(Json.obj(counts.toSeq.sortBy(_._1)))
      .append(",\"spans\":[")
    val all = Span(0, -1, "run", "run", workload, runStart,
      System.currentTimeMillis()) +: spans.toSeq
    all.zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      sb.append("{\"id\":").append(s.id).append(",\"parent\":").append(s.parent)
        .append(",\"op\":").append(Json.str(s.op))
        .append(",\"kind\":").append(Json.str(s.kind))
        .append(",\"name\":").append(Json.str(s.name))
        .append(",\"start_ms\":").append(s.startMs)
        .append(",\"end_ms\":").append(s.endMs)
        .append(",\"attrs\":").append(Json.obj(s.attrs.toSeq)).append("}")
    }
    sb.append("]}\n").toString
  }
}

object Trace {
  val OpProperty = "perfbench.op"
}

/** Minimal JSON writing (the output is flat numbers and strings). */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c    => sb.append(c)
    }
    sb.append('"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, Double)]): String =
    kv.map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString("{", ",", "}")
}
