package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced mode: Spark's public listeners plus the codegen, JIT and GC
  * counters, registered only for a traced run. Spans and counts stay in
  * memory; `write` puts them in one JSON file at the end. Every event is
  * filtered to the measured window by its own timestamp, so setup work
  * still draining through the async listener bus is not counted. */
final class Trace(spark: SparkSession) {
  import Trace.{Job, Span}

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val tasks = new ConcurrentLinkedQueue[(Long, Long, Long, Long)]() // finish, cpuNs, shuffleW, inputB
  private val phases = new ConcurrentLinkedQueue[(String, Long, Long)]()   // phase, start, ms
  private val progress = new ConcurrentLinkedQueue[(Long, Map[String, Long])]()
  private val ops = mutable.ArrayBuffer[Span]()
  private val layers = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.put(e.jobId, Job(e.jobId, e.time))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        tasks.add((e.taskInfo.finishTime, m.executorCpuTime,
          m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead))
      }
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.tracker.phases.foreach { case (p, s) => phases.add((p, s.startTimeMs, s.durationMs)) }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add((java.time.Instant.parse(e.progress.timestamp).toEpochMilli,
        e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private var codegen0 = (0L, 0.0)
  private var t0 = 0L
  private var t1 = 0L
  /** Spans are kept only inside the measured window. */
  @volatile private var active = false

  private def codegenNow(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getValues.map(_.toDouble).sum)
  }

  /** Waits until the listener bus has delivered every started job's end
    * and the job count held still across one poll (bounded). */
  private def drain(): Unit = {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    def snap = (jobs.size, tasks.size, phases.size, progress.size)
    var prev = snap
    var stable = false
    while (!stable && System.nanoTime() < deadline) {
      Thread.sleep(150)
      val cur = snap
      stable = cur == prev && !jobs.values.asScala.exists(_.end < 0)
      prev = cur
    }
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def windowStart(): Unit = {
    drain()
    codegen0 = codegenNow()
    t0 = System.currentTimeMillis()
    active = true
  }

  def windowEnd(): Unit = {
    active = false
    t1 = System.currentTimeMillis()
    drain()
  }

  def opSpan(kind: String, start: Long, end: Long): Unit = synchronized { if (active) ops += Span(kind, start, end) }

  def layerSpan(layer: String, ms: Double): Unit = synchronized {
    if (active) layers.getOrElseUpdate(layer, mutable.ArrayBuffer()) += ms
  }

  /** Mean duration of one layer's spans (0 when the layer never ran). */
  def layerMean(layer: String): Double =
    layers.get(layer).filter(_.nonEmpty).map(xs => xs.sum / xs.size).getOrElse(0.0)

  private def inWindow(t: Long) = t >= t0 && t <= t1

  /** The Spark/JVM layer metrics, per op of the window; `h0`/`h1` are the
    * JVM counters at the window edges. */
  def sparkMetrics(nOps: Int, h0: HostSnap, h1: HostSnap): Map[String, Double] = {
    val n = math.max(1, nOps).toDouble
    val js = jobs.values.asScala.toSeq.filter(j => inWindow(j.start) && j.end >= 0)
    val ts = tasks.asScala.toSeq.filter(t => inWindow(t._1))
    val ph = phases.asScala.toSeq.filter(p => inWindow(p._2))
    def phaseMs(p: String) = ph.filter(_._1 == p).map(_._3).sum / n
    // driver gap: op wall minus the part of it that some job covered
    val intervals = js.map(j => (j.start, j.end)).sortBy(_._1)
    val gapMs = ops.map { o =>
      var covered = 0L
      var curS = -1L
      var curE = -1L
      def flush(): Unit = if (curE > curS) covered += curE - curS
      intervals.foreach { case (s, e) =>
        val cs = math.max(s, o.start)
        val ce = math.min(e, o.end)
        if (ce > cs) {
          if (cs > curE) { flush(); curS = cs; curE = ce }
          else curE = math.max(curE, ce)
        }
      }
      flush()
      (o.end - o.start - covered).toDouble
    }.sum
    val (c1, cms1) = codegenNow()
    val dCount = c1 - codegen0._1
    // the Codahale reservoir keeps every sample up to 1028; past that the
    // compile time is estimated from the reservoir mean
    val dMs = if (c1 <= 1028) cms1 - codegen0._2
              else dCount * CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean
    Map(
      "spark.jobs_per_op" -> js.size / n,
      "spark.job_ms_per_op" -> js.map(j => j.end - j.start).sum / n,
      "spark.driver_gap_ms_per_op" -> gapMs / n,
      "spark.task_cpu_ms_per_op" -> ts.map(_._2).sum / 1e6 / n,
      "spark.shuffle_bytes_per_op" -> ts.map(_._3).sum / n,
      "spark.input_bytes_per_op" -> ts.map(_._4).sum / n,
      "catalyst.analysis_ms_per_op" -> phaseMs("analysis"),
      "catalyst.optimization_ms_per_op" -> phaseMs("optimization"),
      "catalyst.planning_ms_per_op" -> phaseMs("planning"),
      "codegen.compiles_per_op" -> dCount / n,
      "codegen.compile_ms_per_op" -> dMs / n,
      "jvm.jit_ms_per_op" -> (h1.jitMs - h0.jitMs) / n,
      "jvm.gc_ms_per_op" -> (h1.gcMs - h0.gcMs) / n)
  }

  /** Mean per ingest call of each StreamingQueryProgress duration. */
  def streamingMeans(ingests: Int): Map[String, Double] = {
    val ps = progress.asScala.toSeq.filter(p => inWindow(p._1)).map(_._2)
    val n = math.max(1, ingests).toDouble
    def sum(k: String) = ps.map(_.getOrElse(k, 0L)).sum / n
    Map(
      "streaming.latest_offset_ms" -> sum("latestOffset"),
      "streaming.query_planning_ms" -> sum("queryPlanning"),
      "streaming.add_batch_ms" -> sum("addBatch"),
      "streaming.wal_commit_ms" -> sum("walCommit"),
      "streaming.commit_offsets_ms" -> sum("commitOffsets"))
  }

  /** Writes the spans and counts kept in memory as one JSON file. */
  def write(out: Path, metrics: Map[String, Double]): Unit = {
    val sb = new StringBuilder
    sb ++= "{\"window\":{\"start_ms\":" + t0 + ",\"end_ms\":" + t1 + "},\n\"ops\":["
    sb ++= ops.map(o => s"""{"kind":"${o.name}","start_ms":${o.start},"end_ms":${o.end}}""").mkString(",\n")
    sb ++= "],\n\"jobs\":["
    sb ++= jobs.values.asScala.toSeq.sortBy(_.id)
      .map(j => s"""{"id":${j.id},"start_ms":${j.start},"end_ms":${j.end}}""").mkString(",\n")
    sb ++= "],\n\"layer_spans\":{"
    sb ++= layers.map { case (k, v) => s""""$k":[${v.map(d => f"$d%.3f").mkString(",")}]""" }.mkString(",\n")
    sb ++= "},\n\"metrics\":{"
    sb ++= metrics.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",\n")
    sb ++= "}}\n"
    Files.write(out, sb.toString.getBytes(StandardCharsets.UTF_8))
  }
}

object Trace {
  private final case class Job(id: Int, start: Long, var end: Long = -1L)
  private final case class Span(name: String, start: Long, end: Long)
}
