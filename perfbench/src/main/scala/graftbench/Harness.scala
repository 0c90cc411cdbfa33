package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One workload of the benchmark: a closed loop with one client. A run
  * executes a fixed number of whole rounds (`rounds`), so every
  * run attempts the same operations and ends in the same state. */
trait Workload {
  def name: String
  /** Whole rounds per run: about `--seconds` of work on a 4-vCPU host. */
  def rounds: Int
  /** Stage inputs and seed tables under `dir`. Called several times per
    * run (setup is timed as a median); the last call's state is used. */
  def setup(ctx: Ctx, dir: Path, rep: Int): Unit
  /** SHA-256 over the staged inputs; identical for the same seed. */
  def inputDigest: String
  /** One round of operations, each wrapped in `ctx.op`. */
  def round(ctx: Ctx, i: Int): Unit
  /** Rows of user input the rounds so far processed (see README). */
  def rowsProcessed: Long
  /** Checks over the final state; returns the errors found. */
  def finalChecks(ctx: Ctx): Seq[String]
  /** Directories whose bytes count as stored output, and live output rows. */
  def storedDirs: Seq[Path]
  def liveRows: Long
  /** Layer metrics this workload measures itself (traced runs only). */
  def layerMetrics(ctx: Ctx): Map[String, Double]
}

/** Per-run context the workloads use: the session, op timing, spans and
  * the error list their checkers append to. */
final class Ctx(val spark: SparkSession, val trace: Option[Trace]) {
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  var attempted = 0
  var failed = 0
  val errors = mutable.ArrayBuffer[String]()

  /** Times one operation of `kind` ("write", "read", ...). A throwing op
    * counts as failed and is not sampled. */
  def op[T](kind: String)(body: => T): Option[T] = {
    attempted += 1
    val s = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val r = body
      samples.getOrElseUpdate(kind, mutable.ArrayBuffer()) += (System.nanoTime() - t0) / 1e6
      trace.foreach(_.opSpan(kind, s, System.currentTimeMillis()))
      Some(r)
    } catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"[perfbench] $kind op failed: $e")
        e.printStackTrace()
        None
    }
  }

  /** A layer span inside an op; recorded only in traced runs. */
  def span[T](layer: String)(body: => T): T = trace match {
    case None => body
    case Some(t) =>
      val t0 = System.nanoTime()
      try body finally t.layerSpan(layer, (System.nanoTime() - t0) / 1e6)
  }

  def check(ok: Boolean, msg: => String): Unit = if (!ok) errors += msg
  def checkAll(errs: Seq[String]): Unit = errors ++= errs
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100 * s.length).toInt - 1))
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally st.close()
    }

  def sha256(parts: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach { s => md.update(s.getBytes("UTF-8")); md.update(0.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }
}

/** Host and JVM counters read at the window edges. */
final case class HostSnap(cpuNs: Long, gcMs: Long, jitMs: Long, steal: Long, busy: Long)

object HostSnap {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum
  }

  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** (steal, busy incl. steal) jiffies from the aggregate `cpu` line of
    * /proc/stat; zeros where the file does not exist. */
  def stealBusy(): (Long, Long) =
    try {
      val line = scala.io.Source.fromFile("/proc/stat").getLines().next()
      val f = line.trim.split("\\s+").drop(1).map(_.toLong)
      // user nice system idle iowait irq softirq steal ...
      val busy = f(0) + f(1) + f(2) + f(5) + f(6) + f(7)
      (f(7), busy)
    } catch { case NonFatal(_) => (0L, 0L) }

  def now(): HostSnap = {
    val (s, b) = stealBusy()
    HostSnap(os.getProcessCpuTime, gcMs, jitMs, s, b)
  }

  /** Heap in use after full GCs. Spark's ContextCleaner frees cached
    * blocks of collected RDDs only after a GC has cleared their weak
    * references, so collect, let it run, and collect again. */
  def heapLiveMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(300) }
    System.gc()
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}
