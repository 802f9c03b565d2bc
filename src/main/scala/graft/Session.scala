package graft

import org.apache.spark.sql.SparkSession

import graft.ops.Materialize

/** The one place a graft main builds its `SparkSession`. Every shared
  * setting lives here; a caller adds a `.config` to [[builder]] only
  * where its needs really differ (ScaleGen pins 32 shuffle partitions so
  * generated corpora keep their file layout; the test suites add a temp
  * warehouse).
  *
  * Settings read from `env` (default `sys.env`; tests pass a fake map):
  *   - `SPARK_GRAFT_CPUS` — the `local[n]` thread count, default the
  *     host's available processors;
  *   - `SPARK_GRAFT_SHUFFLE_PARTITIONS` — shuffle partitions, default n;
  *   - `SPARK_GRAFT_FORK_MATERIALIZE` → [[Materialize.StrategyKey]];
  *   - `SPARK_GRAFT_CHECKPOINT_LEVEL` → [[Materialize.CheckpointLevelKey]].
  * The last two are set only when their variable is, so the library
  * defaults in [[Materialize]] apply otherwise. The catalog-wide
  * invariance artifacts (docs/fork_invariance_r*.json,
  * docs/checkpoint_level_invariance_r*.json) are two Verify runs that
  * differ only in one of them.
  */
object Session {

  def cpus(env: Map[String, String] = sys.env): Int =
    env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.toInt)

  /** Every setting [[builder]] applies, `spark.master` included. */
  def conf(env: Map[String, String] = sys.env): Map[String, String] = {
    val n = cpus(env)
    Map(
      "spark.master" -> s"local[$n]",
      "spark.sql.shuffle.partitions" ->
        env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", n.toString),
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      // events.parquet carries TIMESTAMP(NANOS); Spark only reads it as long
      "spark.sql.legacy.parquet.nanosAsLong" -> "true") ++
      env.get("SPARK_GRAFT_FORK_MATERIALIZE").map(Materialize.StrategyKey -> _) ++
      env.get("SPARK_GRAFT_CHECKPOINT_LEVEL").map(Materialize.CheckpointLevelKey -> _)
  }

  def builder(env: Map[String, String] = sys.env): SparkSession.Builder =
    SparkSession.builder().config(conf(env))

  /** The session Verify, Bench and Profile run on, logging at WARN. */
  def apply(env: Map[String, String] = sys.env): SparkSession = {
    val spark = builder(env).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
