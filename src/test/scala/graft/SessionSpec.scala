package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Materialize

/** The settings [[Session]] derives from a given environment. */
class SessionSpec extends AnyFunSuite {

  test("each honoured env var lands on its conf key") {
    val conf = Session.conf(Map(
      "SPARK_GRAFT_CPUS" -> "3",
      "SPARK_GRAFT_SHUFFLE_PARTITIONS" -> "17",
      "SPARK_GRAFT_FORK_MATERIALIZE" -> "table",
      "SPARK_GRAFT_CHECKPOINT_LEVEL" -> "DISK_ONLY"))
    assert(conf("spark.master") == "local[3]")
    assert(conf("spark.sql.shuffle.partitions") == "17")
    assert(conf(Materialize.StrategyKey) == "table")
    assert(conf(Materialize.CheckpointLevelKey) == "DISK_ONLY")
  }

  test("shuffle partitions follow the thread count unless pinned") {
    val conf = Session.conf(Map("SPARK_GRAFT_CPUS" -> "6"))
    assert(conf("spark.master") == "local[6]")
    assert(conf("spark.sql.shuffle.partitions") == "6")
  }

  test("an empty env sets the shared settings and no strategy or level key") {
    val conf = Session.conf(Map.empty)
    assert(conf("spark.sql.session.timeZone") == "UTC")
    assert(conf("spark.ui.enabled") == "false")
    assert(conf("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(!conf.contains(Materialize.StrategyKey))
    assert(!conf.contains(Materialize.CheckpointLevelKey))
  }

  test("an unset SPARK_GRAFT_CPUS yields the host's available processors") {
    val n = Runtime.getRuntime.availableProcessors
    assert(Session.cpus(Map.empty) == n)
    assert(Session.conf(Map.empty)("spark.master") == s"local[$n]")
    assert(Session.conf(Map.empty)("spark.sql.shuffle.partitions") == n.toString)
  }

  test("the suites' live session carries the builder's settings") {
    val spark = SparkTestBase.spark
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.sparkContext.master ==
      s"local[${Runtime.getRuntime.availableProcessors}]")
  }
}
