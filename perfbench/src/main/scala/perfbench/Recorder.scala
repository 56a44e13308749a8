package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One timed operation: its wall, the pass it ran in and whether its
  * result passed the correctness check.
  */
final case class OpRun(id: Int, name: String, group: String, pass: Int,
    startMs: Long, endMs: Long, ok: Boolean, detail: String) {
  def wallS: Double = (endMs - startMs) / 1e3
}

/** A closed interval in epoch milliseconds, as Spark's events report time. */
final case class Span(name: String, kind: String, startMs: Long, endMs: Long,
    parent: String, op: Int)

/** Per-op counters gathered from Spark's listener bus. */
final class OpStats {
  var jobs, stages, tasks = 0L
  val stageSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  var taskRunMs, taskCpuNs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill, recordsRead, bytesWritten = 0L
  var analysisMs, optimizerMs, physicalMs = 0L
}

/** Times every benchmark operation and, when tracing, records spans and
  * counters at the layer boundaries the benchmark can see from outside
  * graft: the op (the benchmark's own call), the Spark jobs and stages
  * it started (tied to the op by a job group, or by time for jobs graft
  * submits under its own group), Catalyst's planning phases, and
  * streaming trigger phases. Spans stay in memory and are written out
  * when the run ends.
  */
final class Recorder(spark: SparkSession) {
  private val sc = spark.sparkContext
  val ops = mutable.ArrayBuffer.empty[OpRun]
  private val stageOp = mutable.Map.empty[Int, Int]
  private val jobOp = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, Long]
  val stats = mutable.Map.empty[Int, OpStats]
  val spans = mutable.ArrayBuffer.empty[Span]
  @volatile private var tracing = false
  private var nextId = 0
  private val GroupPrefix = "perfbench-op-"

  private val lock = new Object
  @volatile private var running: Option[(Int, Long)] = None

  /** The op running at `ms`, for jobs that carry no op's job group. */
  private def opAt(ms: Long): Int = lock.synchronized {
    ops.find(o => o.startMs <= ms && ms <= o.endMs).map(_.id)
      .orElse(running.filter(_._2 <= ms).map(_._1)).getOrElse(-1)
  }

  private def st(op: Int): OpStats = lock.synchronized(stats.getOrElseUpdate(op, new OpStats))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val op = group.filter(_.startsWith(GroupPrefix)).map(_.stripPrefix(GroupPrefix).toInt)
        .getOrElse(opAt(e.time))
      lock.synchronized {
        jobOp(e.jobId) = op
        jobStart(e.jobId) = e.time
        e.stageIds.foreach(stageOp(_) = op)
      }
      st(op).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      val op = jobOp.getOrElse(e.jobId, -1)
      val s = jobStart.getOrElse(e.jobId, e.time)
      st(op).jobSpans += ((s, e.time))
      spans += Span(s"job ${e.jobId}", "job", s, e.time, s"op $op", op)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val op = lock.synchronized(stageOp.getOrElse(i.stageId, -1))
      val s0 = i.submissionTime.getOrElse(0L)
      val s1 = i.completionTime.getOrElse(s0)
      lock.synchronized {
        val o = st(op)
        o.stages += 1
        o.tasks += i.numTasks
        o.stageSpans += ((s0, s1))
        spans += Span(s"stage ${i.stageId}", "stage", s0, s1, s"op $op", op)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) lock.synchronized {
        val o = st(stageOp.getOrElse(e.stageId, -1))
        o.taskRunMs += m.executorRunTime
        o.taskCpuNs += m.executorCpuTime
        o.gcMs += m.jvmGCTime
        o.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        o.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        o.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        o.recordsRead += m.inputMetrics.recordsRead
        o.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      val t0 = ph.values.map(_.startTimeMs).reduceOption(_ min _).getOrElse(0L)
      val o = st(opAt(t0))
      lock.synchronized {
        o.analysisMs += ms("analysis")
        o.optimizerMs += ms("optimization")
        o.physicalMs += ms("planning")
        ph.foreach { case (k, p) =>
          spans += Span(s"plan.$k", "planning", p.startTimeMs, p.endTimeMs, s"op ${opAt(t0)}", opAt(t0))
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Attach or detach the trace listeners; untraced passes run without them. */
  def trace(on: Boolean): Unit = if (on != tracing) {
    if (on) { sc.addSparkListener(listener); spark.listenerManager.register(qeListener) }
    else { sc.removeSparkListener(listener); spark.listenerManager.unregister(qeListener) }
    tracing = on
  }

  /** Run one op. Spark's cache manager is cleared first, so blocks an
    * earlier op cached cannot change this op's cost.
    * `body` returns None when its result is correct, else a description
    * of the mismatch; a thrown exception counts as a failure too.
    */
  def op(name: String, group: String, pass: Int)(body: => Option[String]): OpRun = {
    spark.sharedState.cacheManager.clearCache()
    val id = lock.synchronized { nextId += 1; nextId }
    sc.setJobGroup(GroupPrefix + id, name, interruptOnCancel = false)
    val t0 = System.currentTimeMillis()
    running = Some((id, t0))
    val (ok, detail) =
      try body match { case None => (true, ""); case Some(d) => (false, d) }
      catch { case scala.util.control.NonFatal(e) => (false, s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val t1 = System.currentTimeMillis()
    sc.clearJobGroup()
    val r = OpRun(id, name, group, pass, t0, t1, ok, detail.take(300))
    lock.synchronized { ops += r; running = None }
    if (tracing) lock.synchronized(spans += Span(name, "op", t0, t1, s"pass $pass", id))
    if (!ok) System.err.println(s"perfbench: op $name failed: ${r.detail}")
    r
  }

  def addSpan(s: Span): Unit = if (tracing) lock.synchronized(spans += s)

  /** Stats of the given ops, summed. */
  def sum(ids: Iterable[Int]): OpStats = lock.synchronized {
    val out = new OpStats
    ids.flatMap(stats.get).foreach { o =>
      out.jobs += o.jobs; out.stages += o.stages; out.tasks += o.tasks
      out.stageSpans ++= o.stageSpans; out.jobSpans ++= o.jobSpans
      out.taskRunMs += o.taskRunMs; out.taskCpuNs += o.taskCpuNs; out.gcMs += o.gcMs
      out.shuffleWrite += o.shuffleWrite; out.shuffleRead += o.shuffleRead
      out.spill += o.spill; out.recordsRead += o.recordsRead
      out.bytesWritten += o.bytesWritten
      out.analysisMs += o.analysisMs; out.optimizerMs += o.optimizerMs
      out.physicalMs += o.physicalMs
    }
    out
  }

  def writeSpans(path: String): Unit = lock.synchronized {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      val n = Check.mapper.createObjectNode()
      n.put("name", s.name).put("kind", s.kind).put("start_ms", s.startMs)
        .put("end_ms", s.endMs).put("parent", s.parent).put("op", s.op)
      w.println(Check.mapper.writeValueAsString(n))
    } finally w.close()
  }
}

object Recorder {
  /** Length of the union of the intervals, in seconds. */
  def unionS(iv: Iterable[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.toSeq.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1e3
  }

  /** Length of the union of `iv` clipped to [s, e], in seconds. */
  def coveredS(iv: Iterable[(Long, Long)], s: Long, e: Long): Double =
    unionS(iv.map { case (a, b) => (math.max(a, s), math.min(b, e)) }.filter(x => x._2 > x._1))
}
