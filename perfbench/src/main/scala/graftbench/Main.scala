package graftbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Entry point of the repo benchmark.
  *
  *   graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *
  * Prints reference figures, then (traced) the per-layer table, and as its
  * last stdout line one JSON object: correct, attempted, failed, metrics.
  * `perfbench/run.py` builds the classpath and starts this JVM. */
object Main {

  /** End-to-end metrics (untraced runs): name, unit. */
  val endToEnd: Seq[(String, String)] = Seq(
    "cpu_ms_per_op" -> "ms",
    "stored_bytes_per_row" -> "B/row",
    "heap_live_mb" -> "MB",
    "setup_s" -> "s")

  /** Wall-clock throughput and latency: printed as reference figures, not
    * metrics. On a shared 4-vCPU VM they follow the hypervisor's CPU steal
    * (which moves from minute to minute) and their run-to-run spread is
    * wider than any bound that would still catch a regression. */
  val wallFigures: Seq[String] = Seq("ops_per_s", "rows_per_s", "write_p50_ms", "read_p50_ms")

  /** Per-layer metrics (traced runs): name, unit, the end-to-end metric it
    * should move and on which workload. Every workload prints every one;
    * a layer a workload does not exercise reads 0 there. */
  val perLayer: Seq[(String, String, String)] = Seq(
    ("spark.jobs_per_op", "count", "write_p50_ms on recall_daily; both latencies on lakehouse_cycle"),
    ("spark.job_ms_per_op", "ms", "write_p50_ms on recall_daily; both latencies on lakehouse_cycle"),
    ("spark.driver_gap_ms_per_op", "ms", "write_p50_ms on recall_daily; both latencies on lakehouse_cycle"),
    ("spark.task_cpu_ms_per_op", "ms", "cpu_ms_per_op and write_p50_ms on llm_prep"),
    ("spark.shuffle_bytes_per_op", "B", "cpu_ms_per_op and write_p50_ms on llm_prep"),
    ("spark.input_bytes_per_op", "B", "read_p50_ms on lakehouse_cycle"),
    ("catalyst.analysis_ms_per_op", "ms", "latencies on recall_daily and lakehouse_cycle"),
    ("catalyst.optimization_ms_per_op", "ms", "latencies on recall_daily and lakehouse_cycle"),
    ("catalyst.planning_ms_per_op", "ms", "latencies on recall_daily and lakehouse_cycle"),
    ("codegen.compiles_per_op", "count", "cpu_ms_per_op on all"),
    ("codegen.compile_ms_per_op", "ms", "cpu_ms_per_op on all"),
    ("jvm.jit_ms_per_op", "ms", "cpu_ms_per_op on all"),
    ("jvm.gc_ms_per_op", "ms", "cpu_ms_per_op on all"),
    ("pipeline.producer_ms", "ms", "write_p50_ms on recall_daily"),
    ("pipeline.transport_calls_per_op", "count", "write_p50_ms on recall_daily"),
    ("streaming.ingest_ms", "ms", "write_p50_ms on recall_daily"),
    ("streaming.latest_offset_ms", "ms", "write_p50_ms on recall_daily"),
    ("streaming.query_planning_ms", "ms", "write_p50_ms on recall_daily"),
    ("streaming.add_batch_ms", "ms", "write_p50_ms on recall_daily"),
    ("streaming.wal_commit_ms", "ms", "write_p50_ms on recall_daily"),
    ("streaming.commit_offsets_ms", "ms", "write_p50_ms on recall_daily"),
    ("jdbc.ingest_v2_ms", "ms", "write_p50_ms on recall_daily"),
    ("jdbc.rows_appended_per_op", "count", "write_p50_ms on recall_daily"),
    ("manifest.insert_ms", "ms", "write_p50_ms on lakehouse_cycle"),
    ("manifest.merge_ms", "ms", "write_p50_ms on lakehouse_cycle"),
    ("manifest.delete_ms", "ms", "write_p50_ms on lakehouse_cycle"),
    ("manifest.read_plan_ms", "ms", "read_p50_ms on lakehouse_cycle"),
    ("manifest.read_exec_ms", "ms", "read_p50_ms on lakehouse_cycle"),
    ("manifest.files_scanned_per_read", "count", "read_p50_ms on lakehouse_cycle"),
    ("manifest.compact_ms", "ms", "stored_bytes_per_row and read_p50_ms on lakehouse_cycle"),
    ("manifest.live_files", "count", "stored_bytes_per_row and read_p50_ms on lakehouse_cycle"),
    ("manifest.versions", "count", "stored_bytes_per_row and read_p50_ms on lakehouse_cycle"),
    ("manifest.metadata_bytes", "B", "stored_bytes_per_row and read_p50_ms on lakehouse_cycle"),
    ("operators.dedup.minhash_ms", "ms", "write_p50_ms on llm_prep"),
    ("operators.dedup.components_ms", "ms", "write_p50_ms on llm_prep"),
    ("operators.text.scrub_split_ms", "ms", "write_p50_ms on llm_prep"),
    ("operators.dedup.candidates_per_doc", "count", "cpu_ms_per_op on llm_prep"),
    ("operators.dedup.verified_per_candidate", "ratio", "cpu_ms_per_op on llm_prep"),
    ("operators.similarity.knn_ms", "ms", "read_p50_ms on llm_prep"),
    ("operators.similarity.ivf_ms", "ms", "read_p50_ms on llm_prep"),
    ("operators.similarity.ivf_recall_at_k", "ratio", "read_p50_ms on llm_prep"))

  val setupReps = 3

  def workload(name: String, seed: Long, seconds: Int): Workload = name match {
    case "recall_daily" => new RecallDaily(seed, seconds)
    case "lakehouse_cycle" => new LakehouseCycle(seed, seconds)
    case "llm_prep" => new LlmPrep(seed, seconds)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val wl = workload(opt("workload"), seed, seconds)
    val code = try run(wl, seed, traced, work) catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] run aborted: $e")
        e.printStackTrace()
        1
    }
    System.out.flush()
    sys.exit(code)
  }

  private def run(wl: Workload, seed: Long, traced: Boolean, work: Path): Int = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val tSession = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(work.resolve("checkpoints").toString)
    val sessionS = (System.nanoTime() - tSession) / 1e9

    val trace = if (traced) Some(new Trace(spark)) else None
    val ctx = new Ctx(spark, trace)
    val setupS = (0 until setupReps).map { rep =>
      val dir = work.resolve(s"setup-$rep")
      Files.createDirectories(dir)
      val t0 = System.nanoTime()
      wl.setup(ctx, dir, rep)
      (System.nanoTime() - t0) / 1e9
    }
    trace.foreach(_.register())
    val rounds = wl.rounds

    trace.foreach(_.windowStart())
    val h0 = HostSnap.now()
    val w0 = System.nanoTime()
    (0 until rounds).foreach(i => wl.round(ctx, i))
    val windowS = (System.nanoTime() - w0) / 1e9
    val h1 = HostSnap.now()
    trace.foreach(_.windowEnd())
    val heapMb = HostSnap.heapLiveMb()
    ctx.checkAll(wl.finalChecks(ctx))

    val done = ctx.attempted - ctx.failed
    val writes = ctx.samples.getOrElse("write", Seq.empty[Double]).toSeq
    val reads = ctx.samples.getOrElse("read", Seq.empty[Double]).toSeq
    val stored = wl.storedDirs.map(Stats.dirBytes).sum
    val e2e: Map[String, Double] = Map(
      "ops_per_s" -> done / windowS,
      "rows_per_s" -> wl.rowsProcessed / windowS,
      "write_p50_ms" -> (if (writes.isEmpty) 0.0 else Stats.median(writes)),
      "read_p50_ms" -> (if (reads.isEmpty) 0.0 else Stats.median(reads)),
      "cpu_ms_per_op" -> (h1.cpuNs - h0.cpuNs) / 1e6 / math.max(1, done),
      "stored_bytes_per_row" -> stored.toDouble / math.max(1L, wl.liveRows),
      "heap_live_mb" -> heapMb,
      "setup_s" -> (sessionS + Stats.median(setupS)))

    val stealShare = if (h1.busy > h0.busy) (h1.steal - h0.steal).toDouble / (h1.busy - h0.busy) else 0.0
    val reference = Seq[(String, Any)](
      "workload" -> wl.name, "seed" -> seed, "rounds" -> rounds,
      "nproc" -> cpus, "SPARK_GRAFT_CPUS" -> sys.env.getOrElse("SPARK_GRAFT_CPUS", ""),
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "git_sha" -> sys.props.getOrElse("perfbench.gitsha", "unknown"),
      "input_digest" -> wl.inputDigest,
      "window_s" -> windowS,
      "cpu_steal_share" -> stealShare,
      "window_gc_ms" -> (h1.gcMs - h0.gcMs), "window_jit_ms" -> (h1.jitMs - h0.jitMs),
      "total_gc_ms" -> h1.gcMs, "total_jit_ms" -> h1.jitMs,
      "session_start_s" -> sessionS, "setup_reps_s" -> setupS) ++
      wallFigures.map(n => n -> e2e(n)) ++
      ctx.samples.toSeq.flatMap { case (k, xs) =>
        Seq(s"${k}_samples" -> xs.size, s"${k}_max_ms" -> xs.max) ++
          (if (xs.size >= 4) Seq(s"${k}_p75_ms" -> Stats.percentile(xs.toSeq, 75)) else Nil)
      }
    println("reference " + Json.obj(reference))

    val metrics: Seq[(String, String, Double)] = trace match {
      case None => endToEnd.map { case (n, u) => (n, u, e2e(n)) }
      case Some(t) =>
        val layer = t.sparkMetrics(done, h0, h1) ++ wl.layerMetrics(ctx)
        t.write(work.getParent.resolve(s"trace-${wl.name}.json"), layer)
        println(f"layer table (${wl.name}, $done ops, window ${windowS}%.2f s):")
        perLayer.foreach { case (n, u, moves) =>
          println(f"  $n%-40s ${layer.getOrElse(n, 0.0)}%14.3f $u%-6s moves $moves")
        }
        println("traced end-to-end (reference, includes tracing overhead) " +
          Json.obj((endToEnd.map(_._1) ++ wallFigures).map(n => n -> e2e(n))))
        perLayer.map { case (n, u, _) => (n, u, layer.getOrElse(n, 0.0)) }
    }

    ctx.errors.take(20).foreach(e => System.err.println(s"[perfbench] check failed: $e"))
    if (ctx.errors.nonEmpty) println(s"check failures: ${ctx.errors.size} (first: ${ctx.errors.head})")
    val result = Json.obj(Seq(
      "correct" -> ctx.errors.isEmpty,
      "attempted" -> ctx.attempted,
      "failed" -> ctx.failed,
      "metrics" -> RawJson(metrics.map { case (n, u, v) =>
        s""""$n": {"value": ${Json.num(v)}, "unit": "$u"}""" }.mkString("{", ", ", "}"))))
    spark.stop()
    println(result)
    0
  }
}

final case class RawJson(s: String)

object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def value(v: Any): String = v match {
    case RawJson(s) => s
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case s: String => str(s)
    case xs: Seq[_] => xs.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }

  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")
}
