package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import javax.management.NotificationEmitter
import javax.management.openmbean.CompositeData

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.PerfBenchBus
import org.apache.spark.sql.SparkSession

/** One benchmark process: builds a SparkSession, runs one workload cold
  * once and then warm for `--seconds`, checks every run's stage tables,
  * and writes the metrics to `--out`. `run.py` drives it; see README.md.
  *
  * Untraced runs call the pipeline entry point (`Runner.runAll` fed by
  * the `Sources` readers, or `Runner.curate`). With `--trace 1`, warm
  * runs alternate between that and the same run as individual stage
  * calls, each in its own job group, which a listener turns into the
  * per-layer metrics.
  */
object PerfBench {

  private def epochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def session(cores: Int, work: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()

  /** Post-GC old-generation occupancy, from GC notifications. */
  object Heap {
    private val events = new ConcurrentLinkedQueue[(Long, Long)]() // (uptime ms, old gen bytes after)
    private val oldPool = ManagementFactory.getMemoryPoolMXBeans.asScala
      .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))

    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter =>
        e.addNotificationListener((n, _) =>
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
            oldPool.flatMap(p => Option(info.getMemoryUsageAfterGc.get(p.getName)))
              .foreach(u => events.add((info.getStartTime, u.getUsed)))
          }, null, null)
      case _ =>
    }

    def uptime(): Long = ManagementFactory.getRuntimeMXBean.getUptime

    /** Full GC; returns the old generation's occupancy after it. */
    def settle(): Long = {
      System.gc()
      oldPool.map(_.getUsage.getUsed).getOrElse(0L)
    }

    def peak(start: Long, end: Long, baseline: Long): Long =
      (baseline +: events.asScala.toSeq.collect { case (t, b) if t >= start && t <= end => b }).max
  }

  final case class Sample(kind: String, seconds: Double, ok: Boolean, heapWindow: (Long, Long, Long),
                          errors: Seq[String], settleS: Double, checkS: Double)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val t0 = a("t0-ns").toLong
    val cores = a("cores").toInt
    val work = a("work")
    val spark = session(cores, work)
    val setupS = (epochNs() - t0) / 1e9
    val out = a("out")
    if (a.get("probe-setup").contains("1")) {
      // A set-up probe ends here; halting skips the session's orderly
      // shutdown, which is not part of set-up (run.py removes the work dir).
      write(out, Json.Obj(Seq("setup_s" -> Json.Num(setupS))))
      Runtime.getRuntime.halt(0)
    }
    try bench(spark, a, setupS)
    finally spark.stop()
  }

  private def write(path: String, v: Json.V): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      (v.render + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private def bench(spark: SparkSession, a: Map[String, String], setupS: Double): Unit = {
    val name = a("workload")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val w = Workload(name, spark, a("inputs"), a("work"))
    val pinned: Option[Map[String, String]] = a.get("pinned").map(Json.read).flatMap { p =>
      Option(p.get(name)).flatMap(n => Option(n.get(a("seed"))))
    }.map(_.fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap)
    val plantSlow: Option[(String, Double)] = a.get("plant-slow").map { s =>
      val Array(span, f) = s.split("="); span -> f.toDouble
    }
    val plantCorrupt: Option[String] = a.get("plant-corrupt")
    val sc = spark.sparkContext
    Heap.install()
    val tracer = if (traced) Some(Trace.attach(spark)) else None

    val samples = ArrayBuffer[Sample]()
    val traceRuns = ArrayBuffer[(String, Double, Seq[Span])]()
    var reference: Option[Map[String, String]] = None
    var lastDigests: Map[String, String] = Map.empty

    def dirBytes(p: String): Long = {
      val f = new java.io.File(p)
      if (f.isFile) f.length()
      else Option(f.listFiles()).map(_.toSeq).getOrElse(Nil)
        .filterNot(x => x.getName.startsWith(".") || x.getName.startsWith("_")).map(x => dirBytes(x.getPath)).sum
    }
    def dataFiles(p: String): Long = {
      val f = new java.io.File(p)
      if (f.isFile) { if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L else 1L }
      else Option(f.listFiles()).map(_.toSeq).getOrElse(Nil).map(x => dataFiles(x.getPath)).sum
    }
    def slowdown(span: String, wallNs: Long): Unit = plantSlow.foreach { case (s, f) =>
      if (s == span) Thread.sleep(((f - 1.0) * wallNs / 1e6).toLong)
    }

    /** Untraced stage calls, used only when a slowdown is planted. */
    object PlantHook extends StageHook {
      def apply[T](n: String, i: Seq[String], o: Seq[String])(body: => T): T = {
        val s = System.nanoTime()
        val r = body
        slowdown(n, System.nanoTime() - s)
        r
      }
    }

    final class TraceHook(runId: String) extends StageHook {
      val spans = ArrayBuffer[Span]()
      def apply[T](n: String, i: Seq[String], o: Seq[String])(body: => T): T = {
        val inBytes = i.map(dirBytes).sum
        sc.setJobGroup(s"$runId/$n", n, interruptOnCancel = false)
        val gc0 = Trace.gcMillis()
        val ms0 = System.currentTimeMillis()
        val ns0 = System.nanoTime()
        try {
          val r = body
          slowdown(n, System.nanoTime() - ns0)
          r
        } finally {
          val wall = (System.nanoTime() - ns0) / 1e9
          val ms1 = System.currentTimeMillis()
          sc.clearJobGroup()
          spans += Span(runId, n, ms0, ms1, wall, (Trace.gcMillis() - gc0) / 1e3, inBytes,
            o.map(dataFiles).sum)
        }
      }
    }

    def check(): Seq[String] = {
      plantCorrupt.foreach(t => Check.corruptOneRow(spark, w.outputs.toMap.apply(t)))
      val ds = Check.digests(spark, w.outputs, w.keySums)
      val digests = ds.map { case (t, d) => t -> d.value }
      lastDigests = digests
      def diff(what: String, want: Map[String, String]): Seq[String] =
        digests.toSeq.sortBy(_._1).collect {
          case (t, d) if want.get(t).exists(_ != d) => s"$t digest $d differs from $what ${want(t)}"
        }
      val errs = w.checkOutputs(ds) ++ reference.map(diff("the first run's", _)).getOrElse(Nil) ++
        pinned.map(diff("the pinned", _)).getOrElse(Nil)
      if (reference.isEmpty && errs.isEmpty) reference = Some(digests)
      errs
    }

    def oneRun(kind: String, body: => Unit): Option[Double] = {
      val g0 = System.nanoTime()
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      val baseline = Heap.settle()
      val u0 = Heap.uptime()
      val s = System.nanoTime()
      val thrown = try { body; None } catch { case e: Exception => Some(e.toString) }
      val el = (System.nanoTime() - s) / 1e9
      val u1 = Heap.uptime()
      val c0 = System.nanoTime()
      val errs = thrown.map(e => Seq(s"exception: $e")).getOrElse {
        try check() catch { case e: Exception => Seq(s"check failed: $e") }
      }
      samples += Sample(kind, el, errs.isEmpty, (u0, u1, baseline), errs, (s - g0) / 1e9,
        (System.nanoTime() - c0) / 1e9)
      errs.foreach(e => System.err.println(s"[perfbench] $kind run failed: $e"))
      if (errs.isEmpty) Some(el) else None
    }

    def plain(): Unit = if (plantSlow.isDefined) w.runStaged(PlantHook) else w.run()

    val first = oneRun("cold", plain())
    // One untimed warm-up run: the second run in a JVM still carries most
    // of the JIT compilation, which makes it the run most sensitive to CPU
    // contention from other tenants of the host. Measured warm runs then
    // follow back to back until the --seconds window is full: another run
    // (with its checks) starts only if it is expected to end inside the
    // window; at least one is made. Traced, each measured untraced run is
    // followed by a traced one.
    oneRun("warmup", plain())
    val warmStart = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - warmStart) / 1e9
    var lastCost = 0.0
    var k = 0
    while (k == 0 || elapsed + lastCost <= seconds) {
      val c0 = elapsed
      oneRun("warm", plain())
      if (traced) {
        val hook = new TraceHook(s"run$k")
        oneRun("traced", w.runStaged(hook)).foreach { el =>
          PerfBenchBus.drain(sc)
          traceRuns += ((s"run$k", el, hook.spans.toSeq))
        }
      }
      lastCost = elapsed - c0
      k += 1
    }

    val warm = samples.filter(s => s.kind == "warm" && s.ok).map(_.seconds).toSeq
    val attempted = samples.size
    val failed = samples.count(!_.ok)
    val correct = failed == 0 && first.isDefined && warm.nonEmpty
    val heapPeaks = samples.filter(s => s.kind == "warm" && s.ok).map { s =>
      val (u0, u1, b) = s.heapWindow
      Heap.peak(u0, u1, b) / 1048576.0
    }.toSeq

    val runS = median(warm)
    val endToEnd = Seq(
      "run_s" -> (runS, "s"),
      "first_run_s" -> (first.getOrElse(Double.NaN), "s"),
      "setup_s" -> (setupS, "s"),
      "peak_heap_mb" -> (median(heapPeaks), "MB"))

    val spanMetrics: Seq[Seq[(String, Double)]] = tracer.toSeq.flatMap { t =>
      traceRuns.toSeq.map(_._3.flatMap(s => Trace.spanMetrics(s, t)))
    }
    val tracedS = median(traceRuns.map(_._2).toSeq)
    val spanSumS = median(traceRuns.map(_._3.map(_.wallS).sum).toSeq)
    val perLayer: Seq[(String, Double, String)] = if (!traced) Nil else {
      val names = Workload.Spans.flatMap(s => Trace.SpanMetrics.map(m => s"$s.$m")) :+ "curate.materialized_mb"
      val byRun = spanMetrics.map(_.toMap)
      names.map(n => (n, median(byRun.map(_.getOrElse(n, 0.0))), unitOf(n))) ++ Seq(
        ("trace_overhead_ratio", tracedS / runS, "ratio"),
        ("trace_span_sum_ratio", spanSumS / runS, "ratio"),
        ("error_rate", failed.toDouble / math.max(1, attempted), "ratio"),
        ("run_s_samples", warm.size.toDouble, "count"))
    }
    // The summed stage walls must account for the untraced run time to
    // within the tracing overhead, plus 5 % for run-to-run noise.
    val traceConsistent = !traced ||
      math.abs(spanSumS / runS - 1.0) <= math.abs(tracedS / runS - 1.0) + 0.05

    val metrics =
      if (traced) perLayer.map { case (n, v, u) => n -> metric(v, u) }
      else endToEnd.map { case (n, (v, u)) => n -> metric(v, u) }

    val manifest = Json.read(s"${a("inputs")}/manifest.json")
    val artifact = Json.Obj(Seq(
      "workload" -> Json.Str(name),
      "seed" -> Json.Str(a("seed")),
      "trace" -> Json.Bool(traced),
      "cores" -> Json.Num(a("cores").toDouble),
      "spark_version" -> Json.Str(spark.version),
      "generator" -> Json.Raw(manifest.get("params").toString),
      "expected" -> Json.Raw(manifest.get("expected").toString),
      "run_s_samples" -> Json.Num(warm.size),
      "samples" -> Json.Arr(samples.toSeq.map(s => Json.Obj(Seq(
        "kind" -> Json.Str(s.kind), "seconds" -> Json.Num(s.seconds), "ok" -> Json.Bool(s.ok),
        "settle_s" -> Json.Num(s.settleS), "check_s" -> Json.Num(s.checkS),
        "errors" -> Json.Arr(s.errors.map(Json.Str)))))),
      "digests" -> Json.Obj(lastDigests.toSeq.sortBy(_._1).map { case (k2, v) => k2 -> Json.Str(v) }),
      "end_to_end" -> Json.Obj(endToEnd.map { case (n, (v, u)) => n -> metric(v, u) }),
      "per_layer" -> Json.Obj(perLayer.map { case (n, v, u) => n -> metric(v, u) }),
      "trace_consistent" -> Json.Bool(traceConsistent),
      // run -> stage -> job spans; all spans of a run share its run id
      "spans" -> Json.Arr(tracer.toSeq.flatMap { t =>
        traceRuns.toSeq.zip(spanMetrics).map { case ((runId, el, spans), ms) => Json.Obj(Seq(
          "run" -> Json.Str(runId), "seconds" -> Json.Num(el),
          "start_ms" -> Json.Num(spans.head.startMs), "end_ms" -> Json.Num(spans.last.endMs),
          "stages" -> Json.Arr(spans.map(s => Json.Obj(Seq(
            "span" -> Json.Str(s.name), "parent" -> Json.Str(runId),
            "start_ms" -> Json.Num(s.startMs), "end_ms" -> Json.Num(s.endMs),
            "metrics" -> Json.Obj(ms.filter(_._1.startsWith(s.name + ".")).map { case (k2, v) =>
              k2.stripPrefix(s.name + ".") -> Json.Num(v) }),
            "jobs" -> Json.Arr(Trace.jobsJson(s, t)))))))) }
      })))
    write(a("artifact"), artifact)
    write(a("out"), Json.Obj(Seq(
      "correct" -> Json.Bool(correct),
      "attempted" -> Json.Num(attempted),
      "failed" -> Json.Num(failed),
      "metrics" -> Json.Obj(metrics))))
  }

  private def metric(v: Double, unit: String): Json.Obj =
    Json.Obj(Seq("value" -> Json.Num(v), "unit" -> Json.Str(unit)))

  private def unitOf(n: String): String = n.substring(n.lastIndexOf('.') + 1) match {
    case m if m.endsWith("_s") => "s"
    case m if m.endsWith("_mb") => "MB"
    case "scan_ratio" => "ratio"
    case _ => "count"
  }
}
