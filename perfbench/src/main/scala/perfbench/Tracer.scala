package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Request timing for every run, plus (when `traced`) the spans, Spark
  * jobs, stages and Catalyst phases the per-layer numbers come from.
  *
  * The client is a closed loop on one thread, so requests never overlap
  * in time. Every timestamp is epoch microseconds. Spans are kept in
  * memory and rendered once, when the run ends.
  */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  import Tracer._

  private val baseNanos = System.nanoTime()
  private val baseMicros = System.currentTimeMillis() * 1000.0
  def nowUs(): Double = baseMicros + (System.nanoTime() - baseNanos) / 1000.0

  val requests = ArrayBuffer.empty[Request]
  val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  private var nextSpan = 1
  private var currentReq = 0

  /** One client request: times `body` (wall, and CPU of the calling
    * driver thread), tags every Spark job it starts with the request id
    * (traced runs), and records failure instead of propagating it.
    */
  def request[A](pass: Int, name: String, kind: String)(body: => A): Option[A] = {
    val id = requests.size + 1
    currentReq = id
    val persistedBefore =
      if (traced) spark.sparkContext.getPersistentRDDs.keySet else Set.empty[Int]
    if (traced) spark.sparkContext.setLocalProperty(RequestProperty, id.toString)
    val cpu0 = threads.getCurrentThreadCpuTime
    val start = nowUs()
    val result = try Right(span("request", name)(body)) catch {
      case NonFatal(e) => Left(e)
    }
    val end = nowUs()
    val cpuMs = (threads.getCurrentThreadCpuTime - cpu0) / 1e6
    if (traced) spark.sparkContext.setLocalProperty(RequestProperty, null)
    currentReq = 0
    val materialized =
      if (traced) spark.sparkContext.getPersistentRDDs.keySet.diff(persistedBefore).size else 0
    requests += Request(id, pass, name, kind, start, end,
      result.left.toOption.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)),
      materialized, cpuMs)
    result.toOption
  }

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean

  def lastRequestId: Int = requests.size

  /** Request-boundary hygiene, as a serving process does after each
    * answer: drop the finished request's transient cached blocks. Timed
    * in every run; the bytes left pinned are read only when traced.
    */
  val releases = ArrayBuffer.empty[Map[String, Any]]
  def releaseTransients(): Unit = {
    val t0 = System.nanoTime()
    val n = graft.PerfbenchAccess.releaseTransients(spark)
    val ms = (System.nanoTime() - t0) / 1e6
    val bytes =
      if (traced) spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      else -1L
    releases += Map("ms" -> ms, "released" -> n, "storage_bytes" -> bytes)
  }

  /** A layer call inside the current request (no-op when untraced). */
  def span[A](layer: String, name: String)(body: => A): A =
    if (!traced) body
    else {
      val s = Span(nextSpan, open.headOption.fold(0)(_.id), currentReq, layer, name, nowUs())
      nextSpan += 1
      spans += s
      open = s :: open
      try body finally { s.end = nowUs(); open = open.tail }
    }

  /** Marks a request's output check as failed (counted in `failed`). */
  def failCheck(reqId: Int, why: String): Unit = {
    val i = reqId - 1
    val r = requests(i)
    if (r.error.isEmpty) requests(i) = r.copy(error = Some(s"check: $why"))
  }

  // ---- Spark-side recording (traced runs only) ----------------------
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stages = new ConcurrentHashMap[(Int, Int), StageRec]()
  private val phases = new java.util.concurrent.ConcurrentLinkedQueue[PhaseRec]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val req = Option(e.properties).flatMap(p => Option(p.getProperty(RequestProperty)))
        .map(_.toInt).getOrElse(0)
      jobs.put(e.jobId, JobRec(e.jobId, req, e.stageIds, e.time * 1000.0))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time * 1000.0)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val s = stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
      s.submitted = e.stageInfo.submissionTime.fold(nowUs())(_ * 1000.0)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
      s.completed = e.stageInfo.completionTime.fold(nowUs())(_ * 1000.0)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stage(e.stageId, e.stageAttemptId)
      val m = e.taskMetrics
      s.tasks += 1
      s.durationMs += e.taskInfo.duration
      s.gettingResultMs +=
        (if (e.taskInfo.gettingResultTime > 0) e.taskInfo.finishTime - e.taskInfo.gettingResultTime
         else 0L)
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.deserializeMs += m.executorDeserializeTime
        s.resultSerializeMs += m.resultSerializationTime
        s.gcMs += m.jvmGCTime
        s.shuffleReadBytes += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.resultBytes += m.resultSize
      }
    }
  }

  private def stage(id: Int, attempt: Int): StageRec =
    stages.computeIfAbsent((id, attempt), _ => new StageRec(id, attempt))

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, qe)
    private def record(funcName: String, qe: QueryExecution): Unit = {
      val ps = qe.tracker.phases
      def get(p: String) = ps.get(p).map(s => Seq(s.startTimeMs * 1000.0, s.endTimeMs * 1000.0))
      phases.add(PhaseRec(funcName, get("analysis"), get("optimization"), get("planning")))
    }
  }

  def startSparkRecording(): Unit = if (traced) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  def stopSparkRecording(): Unit = if (traced) {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
  }

  def render(): Map[String, Any] = Map(
    "requests" -> requests.map(r => Map("id" -> r.id, "pass" -> r.pass, "name" -> r.name,
      "kind" -> r.kind, "start" -> r.start, "end" -> r.end, "error" -> r.error,
      "materialized" -> r.materialized, "cpu_ms" -> r.cpuMs)),
    "releases" -> releases,
    "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "req" -> s.req,
      "layer" -> s.layer, "name" -> s.name, "start" -> s.start, "end" -> s.end)),
    "jobs" -> jobs.values.asScala.toSeq.sortBy(_.id).map(j => Map("id" -> j.id, "req" -> j.req,
      "stage_ids" -> j.stageIds, "start" -> j.start, "end" -> j.end)),
    "stages" -> stages.values.asScala.toSeq.sortBy(s => (s.id, s.attempt)).map(_.render),
    "phases" -> phases.asScala.toSeq.map(p => Map("func" -> p.func, "analysis" -> p.analysis,
      "optimization" -> p.optimization, "planning" -> p.planning)))
}

object Tracer {
  /** Spark local property carrying the request id into every job. */
  val RequestProperty = "perfbench.request"

  final case class Request(id: Int, pass: Int, name: String, kind: String,
                           start: Double, end: Double, error: Option[String],
                           materialized: Int, cpuMs: Double)

  final case class Span(id: Int, parent: Int, req: Int, layer: String, name: String,
                        start: Double, var end: Double = -1.0)

  final case class JobRec(id: Int, req: Int, stageIds: Seq[Int], start: Double,
                          var end: Double = -1.0)

  final case class PhaseRec(func: String, analysis: Option[Seq[Double]],
                            optimization: Option[Seq[Double]], planning: Option[Seq[Double]])

  /** Per-stage-attempt task totals, summed as tasks end. */
  final class StageRec(val id: Int, val attempt: Int) {
    var tasks = 0
    var submitted = -1.0; var completed = -1.0
    var durationMs = 0L; var runMs = 0L; var cpuNs = 0L; var deserializeMs = 0L
    var resultSerializeMs = 0L; var gettingResultMs = 0L; var gcMs = 0L
    var shuffleReadBytes = 0L; var shuffleWriteBytes = 0L; var spillBytes = 0L
    var resultBytes = 0L
    def render: Map[String, Any] = Map("id" -> id, "attempt" -> attempt,
      "tasks" -> tasks, "submitted" -> submitted,
      "completed" -> completed, "duration_ms" -> durationMs, "run_ms" -> runMs,
      "cpu_ns" -> cpuNs, "deserialize_ms" -> deserializeMs,
      "result_serialize_ms" -> resultSerializeMs, "getting_result_ms" -> gettingResultMs,
      "gc_ms" -> gcMs, "shuffle_read_bytes" -> shuffleReadBytes,
      "shuffle_write_bytes" -> shuffleWriteBytes, "spill_bytes" -> spillBytes,
      "result_bytes" -> resultBytes)
  }
}
