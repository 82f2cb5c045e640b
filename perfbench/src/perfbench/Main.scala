package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Harness entry point; `perfbench/run.py` builds the classpath and
  * launches it. One process, one closed-loop client thread, Spark at
  * local[min(cores, 4)] with the engine's own session profile.
  *
  * A run: start the session; build the workload's collection
  * [[SetupReps]] times (the last build is kept); compute requests and
  * expected answers; warm up; then loop the request mix for `--seconds`
  * (to the next cycle boundary for workloads that have one). A [[Probe]]
  * sample follows every build and every step, outside all timed spans.
  * With `--trace 1` every other step is traced and the result carries the
  * per-layer metrics; untraced steps give the baseline for the tracing
  * overhead.
  */
object Main {
  /** The first build runs cold (class loading, JIT, code generation) and
    * its time varies by several seconds between runs; the median of three
    * is a warm build. */
  val SetupReps = 3
  val MaxWidth = 4
  /** Cap on the time spent reaching a cycle boundary after `--seconds`. */
  val MaxOverrunS = 45.0
  /** A run measures at least this many cycles; `write_amp` covers set-up
    * and exactly these, so it does not grow with the cycles a faster
    * build fits into `--seconds`. */
  val MinCycles = 3
  val Ops = Seq("get", "search", "ivf_search", "write", "flush", "compact")
  val ReadOps = Seq("get", "search", "ivf_search")
  private val MiB = 1024.0 * 1024.0

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      data: String, out: String)

  /** Phase marks on stderr (the run log), seconds since JVM start. */
  private def phase(name: String): Unit = System.err.println(
    f"perfbench: $name at ${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1f s")

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("data"), m("out"))
  }

  def main(argv: Array[String]): Unit = {
    // exit explicitly: a lingering non-daemon thread must not hold the run open
    val code = try { measure(parse(argv)); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.out.flush()
    sys.exit(code)
  }

  private def measure(a: Args): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val osBean = ManagementFactory.getOperatingSystemMXBean
    val load0 = osBean.getSystemLoadAverage
    val hostCores = Runtime.getRuntime.availableProcessors
    val width = math.min(hostCores, MaxWidth)
    val spark = GraftSession.local(width, s"perfbench-${a.workload}")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val meta = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "master" -> spark.sparkContext.master,
      "width" -> spark.sparkContext.defaultParallelism, "host_cores" -> hostCores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / MiB, "load1_start" -> load0,
      "session_s" -> sessionS)
    val (detail, result) = try run(spark, a, meta, sessionS)
    finally {
      val load1 = osBean.getSystemLoadAverage
      meta("load1_end") = load1
      meta("load_over_cores") = load0 > hostCores || load1 > hostCores
      phase("stop")
      spark.stop()
      phase("stopped")
    }
    val d = Json.render(mutable.LinkedHashMap("meta" -> meta) ++ detail)
    val w = new java.io.PrintWriter(a.out + ".json", "UTF-8")
    try w.println(d) finally w.close()
    println("perfbench-detail " + d)
    println("perfbench-result " + Json.render(result))
  }

  private def run(spark: SparkSession, a: Args, meta: mutable.Map[String, Any],
      sessionS: Double): (Map[String, Any], Map[String, Any]) = {
    val w: Workload = a.workload match {
      case "ann_search"   => new AnnSearch(spark, a.seed, a.data)
      case "ingest_mixed" => new IngestMixed(spark, a.seed, a.data)
    }
    val buildS = mutable.ArrayBuffer.empty[Double]
    val indexMs = mutable.ArrayBuffer.empty[Double]
    // sampled after every build and every step, outside all timed spans
    val probe = new Probe(spark.sparkContext.defaultParallelism)
    probe.warmup()
    probe.sample()
    for (rep <- 1 to SetupReps) {
      if (rep > 1) w.drop()
      val t0 = System.nanoTime()
      w.build(rep)
      buildS += (System.nanoTime() - t0) / 1e9
      indexMs ++= w.indexMs
      probe.sample()
    }
    val tp = System.nanoTime()
    phase("prepare")
    w.prepare()
    meta("build_s") = buildS.toSeq
    meta("prepare_s") = (System.nanoTime() - tp) / 1e9

    phase("warmup")
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val r = new Runner(tracer)
    (0 until w.warmupSteps).foreach { i => w.step(i, r); probe.sample() }

    // Traced and untraced blocks alternate at cycle boundaries, so both
    // halves of a traced run see the same mix of work.
    r.recording = true
    val wall = Array(0.0, 0.0) // untraced, traced
    val ops = Array(0L, 0L)
    var traced = false
    var i = w.warmupSteps
    var cycles = 0
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var written = (0L, 0L) // (bytes under the root, user bytes) after MinCycles
    while (!(elapsed >= a.seconds && w.atBoundary && cycles >= MinCycles) &&
        elapsed < a.seconds + MaxOverrunS) {
      val b = if (traced) 1 else 0
      val s = System.nanoTime()
      val before = r.attempted - r.failed
      if (traced) tracer.get.attach()
      r.traced = traced
      w.step(i, r)
      r.traced = false
      if (traced) tracer.get.detach()
      wall(b) += (System.nanoTime() - s) / 1e9
      ops(b) += (r.attempted - r.failed) - before
      probe.sample()
      i += 1
      if (w.atBoundary) {
        cycles += 1
        traced = a.trace && !traced
        if (cycles == MinCycles) written = (w.disk.bytesWritten, w.userBytes)
      }
    }
    require(cycles >= MinCycles,
      s"only $cycles of $MinCycles cycles within ${a.seconds + MaxOverrunS} s")
    meta("measured_s") = elapsed
    meta("steps") = i - w.warmupSteps
    meta("cycles") = cycles
    phase("finish")
    w.finish(r)

    w.disk.scan()
    phase("gc")
    System.gc(); System.gc()
    val rt = Runtime.getRuntime
    val heapMb = (rt.totalMemory - rt.freeMemory) / MiB

    val lat = r.latencyMs.view.mapValues(_.toSeq).toMap
    def pooled(cls: String) = r.latencyMs.iterator
      .filter { case (k, _) => kindClass(k) == cls }.flatMap(_._2).toSeq
    def p90(xs: Seq[Double]): Option[Double] =
      if (xs.size >= 100) Some(Stats.quantile(xs, 0.9)) else None
    val untracedRate = ops(0) / wall(0)
    val setupS = sessionS + Stats.median(buildS.toSeq)
    val readMs = Stats.geomean(w.readKinds.flatMap(lat.get).map(Stats.median))
    val toRef = probe.toReference
    meta("probe_ms") = probe.medianMs
    meta("probe_samples") = probe.samplesMs.size
    val writeAmp = written._1.toDouble / written._2
    val spaceAmp = w.disk.bytesOnDisk.toDouble / w.liveBytes
    val failFrac = r.failed.toDouble / r.attempted

    // times at the reference host speed (see Probe); the raw figures are
    // in the detail line
    val endToEnd = Map(
      "setup_s" -> setupS * toRef, "ops_per_s" -> untracedRate / toRef,
      "read_ms" -> readMs * toRef, "heap_mb" -> heapMb, "write_amp" -> writeAmp,
      "space_amp" -> spaceAmp)
    val units = Map("setup_s" -> "s", "ops_per_s" -> "1/s", "read_ms" -> "ms",
      "heap_mb" -> "MB", "write_amp" -> "ratio", "space_amp" -> "ratio")

    val named = mutable.LinkedHashMap[String, Any](
      "raw_setup_s" -> setupS, "raw_read_ms" -> readMs, "raw_ops_per_s" -> untracedRate)
    for (c <- Seq("get", "search")) {
      named(s"${c}_p50_ms") = Stats.median(pooled(c))
      named(s"${c}_p90_ms") = p90(pooled(c))
    }
    named("ivf_search_p50_ms") = Stats.median(pooled("ivf_search"))
    named("write_p50_ms") = Stats.median(pooled("write"))
    named("flush_p50_ms") = Stats.median(pooled("flush"))
    named("fail_frac") = failFrac
    named("recall_at_10") = w.recallAt10
    named("write_amp") = writeAmp
    named("space_amp") = spaceAmp
    named("heap_mb") = heapMb

    val perKind = lat.map { case (k, xs) =>
      k -> Map("n" -> xs.size, "p50_ms" -> Stats.median(xs), "p90_ms" -> p90(xs),
        "samples_ms" -> xs)
    }
    val detail = mutable.LinkedHashMap[String, Any](
      "attempted" -> r.attempted, "failed" -> r.failed, "errors" -> r.errors.toSeq,
      "named_metrics" -> named, "ops" -> perKind, "end_to_end" -> endToEnd)

    val metrics: Map[String, Double] = tracer match {
      case None => endToEnd
      case Some(t) =>
        t.writeSpans(a.out + ".spans.jsonl")
        val overhead = 1.0 - (ops(1) / wall(1)) / untracedRate
        detail("trace") = Map("traced_ops_per_s" -> ops(1) / wall(1),
          "untraced_ops_per_s" -> untracedRate, "overhead_frac" -> overhead,
          "spans_file" -> (a.out + ".spans.jsonl"))
        perLayer(spark, w, t, r, indexMs.toSeq, overhead)
    }
    val metricUnits = if (a.trace) layerUnits(metrics.keys) else units
    val result = Map(
      "correct" -> (r.failed == 0), "attempted" -> r.attempted, "failed" -> r.failed,
      "metrics" -> metrics.toSeq.sortBy(_._1).map { case (k, v) =>
        k -> Map("value" -> v, "unit" -> metricUnits(k))
      }.to(mutable.LinkedHashMap))
    (detail.toMap, result)
  }

  private val kindClass: String => String = {
    case "count"                          => "query"
    case "search_nq10" | "search_filter"  => "search"
    case "insert" | "upsert" | "delete"   => "write"
    case "sweep"                          => "compact"
    case k                                => k
  }

  /** Per-layer metrics of the traced steps. Per-op figures are means per
    * operation of that class; a class the workload never issues reads 0. */
  private def perLayer(spark: SparkSession, w: Workload, t: Tracer, r: Runner,
      indexMs: Seq[Double], overhead: Double): Map[String, Double] = {
    val done = t.done.toSeq
    val out = mutable.LinkedHashMap.empty[String, Double]
    def perOp(name: String, classes: Seq[String] = Ops)(f: OpTrace => Double): Unit =
      classes.foreach { c =>
        val xs = done.filter(_.cls == c)
        out(s"$name.$c") = if (xs.isEmpty) 0.0 else Stats.mean(xs.map(f))
      }
    def phase(op: OpTrace, p: String) =
      op.phases.iterator.filter(_._1 == p).map(x => x._3 - x._2).sum
    perOp("collection.call_ms")(op => op.callEnd - op.start)
    perOp("collection.eager_jobs")(op => op.jobs.count(_.start <= op.callEnd).toDouble)
    perOp("catalyst.analysis_ms")(phase(_, "analysis"))
    perOp("catalyst.optimization_ms")(phase(_, "optimization"))
    perOp("catalyst.planning_ms")(phase(_, "planning"))
    perOp("scheduler.jobs")(_.jobs.size.toDouble)
    perOp("scheduler.tasks")(_.tasks.toDouble)
    perOp("scheduler.job_wall_ms")(_.jobs.map(j => j.end - j.start).sum)
    perOp("executor.run_ms")(_.runMs.toDouble)
    perOp("executor.cpu_ms")(_.cpuNs / 1e6)
    perOp("executor.gc_ms")(_.gcMs.toDouble)
    perOp("io.bytes_read")(_.bytesRead.toDouble)
    perOp("io.shuffle_bytes")(_.shuffleBytes.toDouble)
    ReadOps.foreach { c =>
      val xs = done.filter(_.cls == c)
      val results = xs.map(_.resultRows).sum
      out(s"io.rows_examined_per_result.$c") =
        if (results == 0) 0.0 else xs.map(_.recordsRead).sum.toDouble / results
    }
    out("io.spill_bytes") = done.map(_.spillBytes).sum.toDouble
    perOp("cache.view_scan_frac")(op => if (op.viewScan) 1.0 else 0.0)
    perOp("jvm.gc_ms")(_.jvmGcMs.toDouble)

    val sc = spark.sparkContext
    out("cache.mem_mb") = sc.getRDDStorageInfo.map(_.memSize).sum / MiB
    out("cache.persisted_rdds") = sc.getPersistentRDDs.size.toDouble
    def kindMedian(k: String) = r.latencyMs.get(k).map(xs => Stats.median(xs.toSeq)).getOrElse(0.0)
    out("storage.flush_ms") = kindMedian("flush")
    out("storage.compact_ms") = kindMedian("compact")
    out("storage.sweep_ms") = kindMedian("sweep")
    out("storage.bytes_written") = w.disk.bytesWritten.toDouble
    out("storage.files") = w.disk.files.toDouble
    out("storage.segments") = w.collection.getPersistentSegmentInfo.size.toDouble
    out("index.build_ms") = if (indexMs.isEmpty) 0.0 else Stats.median(indexMs)
    out("index.recall_at_10") = w.recallAt10.getOrElse(0.0)

    val view = w.collection.readView()
    out("expr.compile_ms") =
      if (w.filterExprs.isEmpty) 0.0
      else Stats.mean(w.filterExprs.map { f =>
        Stats.median((1 to 5).map { _ =>
          val s = System.nanoTime()
          graft.expr.ExprCompiler.compile(f, view)
          (System.nanoTime() - s) / 1e6
        })
      })
    out("trace.overhead_frac") = overhead

    val spans = done.flatMap(t.spans)
    def selfOf(p: String => Boolean) =
      if (done.isEmpty) 0.0 else spans.filter(s => p(s.name)).map(_.self).sum / done.size
    out("self_ms.collection_call") = selfOf(_ == "collection.call")
    out("self_ms.collect") = selfOf(_ == "collect")
    out("self_ms.catalyst") = selfOf(_.startsWith("catalyst."))
    out("self_ms.spark_job") = selfOf(_.startsWith("job."))
    out.toMap
  }

  private def layerUnits(names: Iterable[String]): Map[String, String] =
    names.map { n =>
      n -> (n match {
        case _ if n.contains("_ms")                        => "ms"
        case _ if n.contains("bytes")                      => "bytes"
        case _ if n.endsWith("_mb")                        => "MB"
        case _ if n.contains("_frac") || n.contains("recall") ||
          n.contains("rows_examined")                      => "ratio"
        case _                                             => "count"
      })
    }.toMap
}
