package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Per-span engine counters, summed over the span's tasks. */
final class Counters {
  var tasks = 0L
  var cpuNs = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
  var outputBytes = 0L
  var rowsOut = 0L
  var materializedBytes = 0L
}

final case class JobRec(id: Int, group: String, start: Long, var end: Long,
                        stages: Int, plannedTasks: Int)

/** One stage call of a traced pipeline run: epoch-ms bounds (the
  * listener's clock, for job overlap) and a nanoTime wall duration.
  */
final case class Span(runId: String, name: String, startMs: Long, endMs: Long,
                      wallS: Double, gcS: Double, inputTableBytes: Long,
                      outputFiles: Long) {
  def group: String = s"$runId/$name"
}

/** SparkListener that attributes jobs, tasks and RDD blocks to the job
  * group of the stage call that launched them (one job group per span,
  * `<run id>/<span name>`). Events are kept in memory and read after the
  * listener bus is drained.
  */
final class Tracer extends SparkListener {
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val jobById = new ConcurrentHashMap[Int, JobRec]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val rddGroup = new ConcurrentHashMap[Int, String]()
  private val counters = new ConcurrentHashMap[String, Counters]()

  private def countersOf(g: String): Counters = counters.computeIfAbsent(g, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
    if (g != null) {
      val r = JobRec(e.jobId, g, e.time, -1L, e.stageInfos.size, e.stageInfos.map(_.numTasks).sum)
      jobs.add(r)
      jobById.put(e.jobId, r)
      e.stageInfos.foreach { si =>
        stageGroup.put(si.stageId, g)
        si.rddInfos.foreach(ri => rddGroup.putIfAbsent(ri.id, g))
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobById.get(e.jobId)).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    val m = e.taskMetrics
    if (g != null && m != null) {
      val c = countersOf(g)
      c.synchronized {
        c.tasks += 1
        c.cpuNs += m.executorCpuTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
        c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
        c.outputBytes += m.outputMetrics.bytesWritten
        c.rowsOut += m.outputMetrics.recordsWritten
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    info.blockId.asRDDId.foreach { rdd =>
      val g = rddGroup.get(rdd.rddId)
      if (g != null && info.storageLevel.isValid) {
        val c = countersOf(g)
        c.synchronized { c.materializedBytes += info.memSize + info.diskSize }
      }
    }
  }

  def jobsOf(group: String): Seq[JobRec] = jobs.asScala.filter(_.group == group).toSeq

  def countersFor(group: String): Counters = countersOf(group)

}

object Trace {
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  def gcMillis(): Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Milliseconds of `[start, end]` covered by the union of the intervals. */
  def covered(intervals: Seq[(Long, Long)], start: Long, end: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  val SpanMetrics: Seq[String] = Seq("wall_s", "driver_s", "jobs", "tasks", "task_cpu_s",
    "gc_s", "input_mb", "scan_ratio", "shuffle_write_mb", "spill_mb", "peak_exec_mem_mb",
    "output_mb", "output_files", "rows_out")

  private val MB = 1048576.0

  /** The per-layer metrics of one span, named as in BENCHMARK.json. */
  def spanMetrics(span: Span, tracer: Tracer): Seq[(String, Double)] = {
    val js = tracer.jobsOf(span.group)
    val c = tracer.countersFor(span.group)
    val jobMs = covered(js.map(j => (j.start, if (j.end < 0) span.endMs else j.end)),
      span.startMs, span.endMs)
    val driver = math.max(0.0, span.wallS - jobMs / 1e3)
    val base = Seq(
      "wall_s" -> span.wallS,
      "driver_s" -> driver,
      "jobs" -> js.size.toDouble,
      "tasks" -> c.tasks.toDouble,
      "task_cpu_s" -> c.cpuNs / 1e9,
      "gc_s" -> span.gcS,
      "input_mb" -> c.inputBytes / MB,
      "scan_ratio" -> (if (span.inputTableBytes > 0) c.inputBytes.toDouble / span.inputTableBytes else 0.0),
      "shuffle_write_mb" -> c.shuffleWriteBytes / MB,
      "spill_mb" -> c.spillBytes / MB,
      "peak_exec_mem_mb" -> c.peakExecMem / MB,
      "output_mb" -> c.outputBytes / MB,
      "output_files" -> span.outputFiles.toDouble,
      "rows_out" -> c.rowsOut.toDouble)
    val extra = if (span.name == "curate") Seq("materialized_mb" -> c.materializedBytes / MB) else Nil
    (base ++ extra).map { case (k, v) => s"${span.name}.$k" -> v }
  }

  def jobsJson(span: Span, tracer: Tracer): Seq[Json.Obj] =
    tracer.jobsOf(span.group).sortBy(_.id).map { j =>
      Json.Obj(Seq("job" -> Json.Num(j.id), "start_ms" -> Json.Num(j.start),
        "end_ms" -> Json.Num(j.end), "stages" -> Json.Num(j.stages),
        "planned_tasks" -> Json.Num(j.plannedTasks)))
    }

  def attach(spark: SparkSession): Tracer = {
    val t = new Tracer
    spark.sparkContext.addSparkListener(t)
    t
  }
}
