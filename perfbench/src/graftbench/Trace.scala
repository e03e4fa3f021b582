package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval: `op` is the id of the public call it belongs to
  * (shared with that call's Spark jobs through their job group),
  * `parent` the id of the enclosing span, -1 at the top.
  */
final case class Span(id: Int, parent: Int, op: String, name: String,
                      startMs: Double, endMs: Double)

/** One public call the client made and how its output compared with
  * the benchmark's own model of the data.
  */
final case class Call(op: String, kind: String, cls: String, window: Int,
                      startMs: Double, endMs: Double, cpuMs: Double, rows: Long,
                      ok: Boolean, note: String, extra: Map[String, Double])

/** What a check of one call's output found. */
final case class Check(rows: Long, ok: Boolean, note: String = "",
                       extra: Map[String, Double] = Map.empty)

/** Spans and calls, kept in memory and written out when the run ends.
  * Times are wall-clock milliseconds read from a monotonic clock, so
  * they line up with the times Spark stamps on listener events.
  */
final class Tracer(sc: SparkContext) {
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = wall0 + (System.nanoTime() - nano0) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  val calls = mutable.ArrayBuffer.empty[Call]
  var window = 0
  private var nextOp = 0
  private var stack: List[(Int, String)] = Nil

  /** Time `body` as a span nested in the current one. */
  def span[T](name: String)(body: => T): T = {
    val (parent, op) = stack.headOption.getOrElse((-1, ""))
    openSpan(name, parent, op)(body)
  }

  private def openSpan[T](name: String, parent: Int, op: String)(body: => T): T = {
    val id = spans.size
    spans += Span(id, parent, op, name, nowMs, Double.NaN)
    stack = (id, op) :: stack
    try body
    finally {
      stack = stack.tail
      spans(id) = spans(id).copy(endMs = nowMs)
    }
  }

  /** One public call: `run` is timed under a fresh op id, then `check`
    * compares its result with the model, untimed.  A throw in either
    * counts the call as failed.
    */
  def call[R](kind: String, cls: String)(run: => R)(check: R => Check): Check = {
    nextOp += 1
    val op = s"op$nextOp"
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    val spanId = spans.size
    sc.setJobGroup(op, kind, interruptOnCancel = false)
    val cpu0 = Telemetry.procCpuSec()
    val res = try Right(openSpan(kind, parent, op)(run)) catch { case e: Throwable => Left(e) }
    val cpuMs = (Telemetry.procCpuSec() - cpu0) * 1000
    sc.clearJobGroup()
    val span = spans(spanId)
    val c = res.flatMap(r => try Right(check(r)) catch { case e: Throwable => Left(e) }) match {
      case Right(c) => c
      case Left(e) => Check(0, ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
    }
    calls += Call(op, kind, cls, window, span.startMs, span.endMs, cpuMs, c.rows, c.ok, c.note, c.extra)
    c
  }
}

/** Spark engine counters per call, attributed through each job's job
  * group, plus the peak memory held by persisted RDD blocks.
  */
final class Recorder extends SparkListener {
  final case class Job(id: Int, op: String, startMs: Long, endMs: Long)

  val Metrics = Seq("tasks", "stages", "sched_delay_ms", "task_run_ms", "task_cpu_ms",
    "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "input_bytes", "output_bytes", "records_read")

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageOp = mutable.HashMap.empty[Int, String]
  private val perOp = mutable.HashMap.empty[String, Array[Double]]
  private val blocks = mutable.HashMap.empty[String, Long]
  private var cached = 0L
  private var cachedPeak = 0L

  private def acc(op: String) = perOp.getOrElseUpdate(op, new Array[Double](Metrics.size))
  private def add(op: String, m: String, v: Double): Unit = acc(op)(Metrics.indexOf(m)) += v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobs(e.jobId) = Job(e.jobId, op, e.time, -1L)
    e.stageIds.foreach(s => stageOp.getOrElseUpdate(s, op))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    add(stageOp.getOrElse(e.stageInfo.stageId, ""), "stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val op = stageOp.getOrElse(e.stageId, "")
    add(op, "tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      val run = m.executorRunTime.toDouble
      val overhead = m.executorDeserializeTime + m.resultSerializationTime +
        e.taskInfo.gettingResultTime
      add(op, "sched_delay_ms", math.max(0.0, e.taskInfo.duration - run - overhead))
      add(op, "task_run_ms", run)
      add(op, "task_cpu_ms", m.executorCpuTime / 1e6)
      add(op, "gc_ms", m.jvmGCTime.toDouble)
      add(op, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add(op, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add(op, "spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add(op, "input_bytes", m.inputMetrics.bytesRead.toDouble)
      add(op, "output_bytes", m.outputMetrics.bytesWritten.toDouble)
      add(op, "records_read", m.inputMetrics.recordsRead.toDouble)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      cached -= blocks.getOrElse(key, 0L)
      if (info.storageLevel.isValid && info.memSize > 0) blocks(key) = info.memSize
      else blocks.remove(key)
      cached += blocks.getOrElse(key, 0L)
      cachedPeak = math.max(cachedPeak, cached)
    }
  }

  def jobEnded(op: String): Boolean = synchronized {
    jobs.values.exists(j => j.op == op && j.endMs >= 0)
  }

  def dump(): Map[String, Any] = synchronized {
    Map(
      "jobs" -> jobs.values.map(j => Map("id" -> j.id, "op" -> j.op,
        "start_ms" -> j.startMs, "end_ms" -> j.endMs)).toSeq,
      "per_op" -> perOp.map { case (op, a) => op -> Metrics.zip(a).toMap }.toMap,
      "cached_peak_bytes" -> cachedPeak)
  }
}

/** Catalyst phase times of every query execution, from
  * `QueryExecution.tracker`; they are matched to calls by time.
  */
final class Phases extends QueryExecutionListener {
  private val rows = mutable.ArrayBuffer.empty[Map[String, Any]]

  private def record(func: String, qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    if (ph.nonEmpty)
      rows += Map("func" -> func, "start_ms" -> ph.values.map(_.startTimeMs).min) ++
        Seq("analysis", "optimization", "planning")
          .map(p => s"${p}_ms" -> ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0))
  }

  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
    record(func, qe)
  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
    record(func, qe)

  def dump(): Seq[Map[String, Any]] = synchronized(rows.toList)
}
