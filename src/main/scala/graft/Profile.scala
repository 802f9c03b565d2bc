package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.GraftShim
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Dev tool: the formatted physical plan of one or more catalog gates,
  * then their wall-clock attributed to Spark JOBS — the unit the sf0.1
  * cost is actually made of. At bench scale the data is tiny, so a
  * gate's seconds are mostly Σ(per-job scheduling + stage/task overhead
  * + tiny compute): a gate that runs 40 sequential jobs cannot beat
  * ~40 × the per-job floor no matter how little data moves.
  *
  * Each gate runs [[Reps]] times as a FRESH construction + noop write
  * (eager work inside the gate fn — checkpoints, convergence loops — is
  * part of its cost, as in Bench); the first rep warms Janino/C2, the
  * last is reported: wall, job count, Σ job time, the driver gap
  * (wall − Σ job: analysis, optimisation, codegen) and the slowest jobs
  * with their stage/task counts and the library frame that issued them
  * (the caller of an eager cut or fork, e.g. a Dedup step); jobs of the
  * final noop write show as `save at Profile.scala`.
  *
  * Usage: runMain graft.Profile <sfDir> <gate> [gate ...]
  */
object Profile {

  private val Reps = 2

  private final class JobRec(val id: Int, val start: Long, val stages: Int,
                             val tasks: Int, val desc: String) {
    @volatile var end: Long = -1L
    def ms: Long = math.max(0L, end - start)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Profile <sfDir> <gate> [gate ...]")
    val sfDir = args.head
    val byName = SparkEntry.catalog.map(q => q.name -> q).toMap
    val unknown = args.tail.filterNot(byName.contains)
    require(unknown.isEmpty, s"unknown gate(s): ${unknown.mkString(", ")}")
    val spark = Session()

    val jobs = new ConcurrentHashMap[Int, JobRec]()
    val sites = new ConcurrentHashMap[Long, String]() // SQL execution id → frame
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          sites.put(s.executionId, s.details.linesIterator.map(_.trim)
            .find(f => f.startsWith("graft.") &&
              !f.startsWith("graft.ops.Materialize") && !f.startsWith("graft.Profile"))
            .getOrElse(s.description))
        case _ => ()
      }
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val site = Option(j.properties)
          .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
          .flatMap(id => Option(sites.get(id.toLong)))
        jobs.put(j.jobId, new JobRec(j.jobId, j.time, j.stageInfos.size,
          j.stageInfos.map(_.numTasks).sum, site.getOrElse(
            j.stageInfos.map(_.name.takeWhile(_ != '+').trim).distinct.mkString(" | "))))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        Option(jobs.get(j.jobId)).foreach(_.end = j.time)
    })
    // drop the blocks a gate's localCheckpoint cuts leave pinned, so one
    // rep's memory state cannot leak into the next
    def scrub(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }

    args.tail.map(byName).foreach { q =>
      println(s"==== ${q.name} ====")
      q.fn(spark, sfDir).explain("formatted")
      scrub()
      var wall = 0.0
      for (_ <- 1 to Reps) {
        jobs.clear()
        val t0 = System.nanoTime()
        q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        wall = (System.nanoTime() - t0) / 1e9
        GraftShim.drainListenerBus(spark.sparkContext)
        scrub()
      }
      val recs = jobs.values.asScala.toSeq
      val sumJob = recs.map(_.ms).sum / 1e3
      println(f"==== ${q.name}: wall $wall%.2f s, jobs ${recs.size}, " +
        f"sum(job) $sumJob%.2f s, driver-gap ${wall - sumJob}%.2f s ====")
      recs.sortBy(-_.ms).take(12).foreach { r =>
        println(f"  job ${r.id}%4d  ${r.ms / 1e3}%6.2f s  " +
          f"stages=${r.stages}%2d tasks=${r.tasks}%4d  ${r.desc.take(90)}")
      }
    }
    spark.stop()
  }
}
