package perfbench

import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.core.Meas
import graft.engine.{EngineApi, QueryInterval, QueryTimePoint}

/** A timed region: name, wall-clock bounds (ms), parent span and the
  * request it belongs to (0 = none). */
final case class Span(id: Long, name: String, startMs: Double, endMs: Double,
                      parent: Long, req: Long, thread: String) {
  def ms: Double = endMs - startMs
}

/** In-memory span recorder. Disabled (a no-op passthrough) unless the
  * run is traced; spans are kept until the run writes them out. */
object Tracer {
  @volatile var enabled = false
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  private val request = new ThreadLocal[Long] { override def initialValue() = 0L }

  /** Spark job local property carrying the request id of the calling
    * thread, so jobs can be attributed to the request that ran them. */
  val ReqProperty = "perfbench.req"

  private val wallBase = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()

  /** Wall-clock ms with sub-ms resolution (comparable with Spark's
    * event times, which are wall-clock ms). */
  def nowMs: Double = wallBase + (System.nanoTime() - nanoBase) / 1e6
  def newRequest(): Long = ids.incrementAndGet()

  /** Make `req` the current request of this thread (and of the Spark
    * jobs it submits). */
  def bindRequest(spark: SparkSession, req: Long): Unit =
    if (enabled) {
      request.set(req)
      spark.sparkContext.setLocalProperty(ReqProperty, req.toString)
    }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(0L)
      stack.set(id :: stack.get())
      val t0 = nowMs
      try body
      finally {
        spans.add(Span(id, name, t0, nowMs, parent, request.get(), Thread.currentThread.getName))
        stack.set(stack.get().tail)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Write every span as one JSON object per line. */
  def writeTo(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.sortBy(_.startMs).foreach { s =>
      w.println(Json(mutable.LinkedHashMap[String, Any]("id" -> s.id, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "parent" -> s.parent,
        "req" -> s.req, "thread" -> s.thread)))
    } finally w.close()
  }
}

/** [[EngineApi]] decorator recording an `engine.call` span per facade
  * call, under a fresh request id that also tags the Spark jobs the
  * serving thread runs for that request. */
final class TracedEngine(spark: SparkSession, inner: EngineApi) extends EngineApi {
  private def call[T](name: String)(body: => T): T = {
    Tracer.bindRequest(spark, Tracer.newRequest())
    Tracer.span(name)(body)
  }
  def append(ms: Seq[Meas]): Unit = call("engine.append")(inner.append(ms))
  def readInterval(q: QueryInterval): DataFrame = call("engine.call")(inner.readInterval(q))
  def intervalReader(q: QueryInterval): Iterator[Meas] = call("engine.call")(inner.intervalReader(q))
  def readTimePoint(q: QueryTimePoint): DataFrame = call("engine.call")(inner.readTimePoint(q))
  def currentValue(ids: Seq[Long], flag: Long): DataFrame = call("engine.call")(inner.currentValue(ids, flag))
  def readGrid(from: Timestamp, to: Timestamp, stepSeconds: Long,
               maxStalenessSeconds: Long): DataFrame =
    call("engine.call")(inner.readGrid(from, to, stepSeconds, maxStalenessSeconds))
  def onAppend(listener: Seq[Meas] => Unit): Unit = inner.onAppend(listener)
  def removeAppendListener(listener: Seq[Meas] => Unit): Unit = inner.removeAppendListener(listener)
}

/** What Spark did for one job, summed over its tasks. */
final class JobStats(val jobId: Int, val req: Long, val submitMs: Double, val stages: Int) {
  @volatile var endMs = Double.NaN
  var firstLaunchMs = Double.NaN
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var recordsRead = 0L
  var bytesWritten = 0L
}

/** Spark-side layer recorder: a [[SparkListener]] for jobs, stages and
  * task metrics, a [[QueryExecutionListener]] for planning phases, and
  * a sampler of cached-block bytes. Event times are wall-clock ms;
  * windows are selected by job submission time. */
final class SparkTrace(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobStats]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, JobStats]()
  private val plans = new ConcurrentLinkedQueue[(Double, Double)]() // (end wall ms, plan ms)
  @volatile private var cachePeak = 0L
  @volatile private var sampling = true

  private val sampler = new Thread(() => {
    while (sampling) {
      val bytes = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      if (bytes > cachePeak) cachePeak = bytes
      Thread.sleep(100)
    }
  }, "perfbench-cache-sampler")

  def start(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    sampler.setDaemon(true)
    sampler.start()
    this
  }

  def stop(): Unit = {
    sampling = false
    sampler.join()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Block until every submitted job's end event has been delivered. */
  def drain(timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (jobs.values.asScala.exists(_.endMs.isNaN) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    Thread.sleep(100) // trailing task/query events
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val req = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.ReqProperty)))
      .map(_.toLong).getOrElse(0L)
    val js = new JobStats(e.jobId, req, e.time.toDouble, e.stageIds.size)
    jobs.put(e.jobId, js)
    e.stageIds.foreach(s => stageJob.put(s, js))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time.toDouble)

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    Option(stageJob.get(e.stageId)).foreach { js =>
      js.synchronized {
        val t = e.taskInfo.launchTime.toDouble
        if (js.firstLaunchMs.isNaN || t < js.firstLaunchMs) js.firstLaunchMs = t
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (js <- Option(stageJob.get(e.stageId)); m <- Option(e.taskMetrics)) js.synchronized {
      js.tasks += 1
      js.runMs += m.executorRunTime
      js.cpuNs += m.executorCpuTime
      js.gcMs += m.jvmGCTime
      js.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      js.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      js.recordsRead += m.inputMetrics.recordsRead
      js.bytesWritten += m.outputMetrics.bytesWritten
    }

  private def planMs(qe: QueryExecution): Double =
    qe.tracker.phases.values.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    plans.add((System.currentTimeMillis().toDouble, planMs(qe)))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    plans.add((System.currentTimeMillis().toDouble, planMs(qe)))

  /** Jobs submitted inside [fromMs, toMs] (wall-clock ms). */
  def jobsIn(fromMs: Double, toMs: Double): Seq[JobStats] =
    jobs.values.asScala.toSeq.filter(j => j.submitMs >= fromMs && j.submitMs <= toMs)

  def planMsIn(fromMs: Double, toMs: Double): Seq[Double] =
    plans.asScala.toSeq.collect { case (t, p) if t >= fromMs && t <= toMs => p }

  def cacheBytesPeak: Long = cachePeak

  /** The Spark layer metrics every workload reports, per operation. */
  def report(r: Report, fromMs: Double, toMs: Double, ops: Long): Unit = {
    val js = jobsIn(fromMs, toMs)
    val n = math.max(ops, 1L).toDouble
    def per(name: String, unit: String, total: Double): Unit =
      r.single(name, unit, total / n, ops, layer = true)
    per("spark.jobs_per_op", "count", js.size.toDouble)
    per("spark.stages_per_op", "count", js.map(_.stages).sum.toDouble)
    per("spark.tasks_per_op", "count", js.map(_.tasks).sum.toDouble)
    per("spark.plan_ms", "ms", planMsIn(fromMs, toMs).sum)
    val delays = js.filter(!_.firstLaunchMs.isNaN).map(j => j.firstLaunchMs - j.submitMs)
    r.single("spark.sched_delay_ms", "ms",
      if (delays.isEmpty) 0.0 else delays.sum / delays.size, delays.size, layer = true)
    per("spark.exec_ms", "ms", js.map(_.runMs).sum.toDouble)
    per("spark.task_cpu_ms", "ms", js.map(_.cpuNs).sum / 1e6)
    per("spark.gc_ms", "ms", js.map(_.gcMs).sum.toDouble)
    per("spark.shuffle_bytes", "bytes", js.map(_.shuffleBytes).sum.toDouble)
    per("spark.spill_bytes", "bytes", js.map(_.spillBytes).sum.toDouble)
    r.single("spark.cache_bytes_peak", "bytes", cacheBytesPeak.toDouble, 1, layer = true)
  }
}
