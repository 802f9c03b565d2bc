package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.Runner
import graft.sources.Sources

/** Wraps one stage call: `inputs` are the files or tables it reads,
  * `outputs` the stage tables it writes.
  */
trait StageHook {
  def apply[T](name: String, inputs: Seq[String], outputs: Seq[String])(body: => T): T
}

/** A workload: the pipeline entry point a user runs over the generated
  * inputs, the same run as individual stage calls (for the trace and for
  * planted controls), and the checks of its outputs against the
  * generator's manifest.
  */
abstract class Workload(val spark: SparkSession, val in: String, val tables: Runner.StageTables,
                        val manifest: JsonNode) {
  def expected(k: String): Long = manifest.get("expected").get(k).asLong()

  /** Stage tables the run writes, by name. */
  def outputs: Seq[(String, String)]

  /** One run as a user calls it. */
  def run(): Unit

  /** The same run, every stage call wrapped by `h`. */
  def runStaged(h: StageHook): Unit

  /** Long key column per output table whose sum the checks compare. */
  def keySums: Map[String, String] = Map.empty

  /** Checks of the written stage tables against the manifest. */
  def checkOutputs(ds: Map[String, Digest]): Seq[String]

  protected def expect(what: String, got: Long, want: Long): Seq[String] =
    if (got == want) Nil else Seq(s"$what: got $got, expected $want")
}

object Workload {
  val Spans: Seq[String] = Seq("sources", "ingest", "preprocess", "validate", "merge",
    "export_landings", "export_tracks", "curate")

  def apply(name: String, spark: SparkSession, in: String, work: String): Workload = {
    val manifest = Json.read(s"$in/manifest.json")
    val tables = Runner.StageTables(s"$work/tables")
    name match {
      case "dag_full" => new Landings(spark, in, tables, manifest)
      case "curate_corpus" => new Curation(spark, in, tables, manifest)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }
}

/** `sources.Sources` readers feeding `Runner.runAll`. */
final class Landings(spark: SparkSession, in: String, tables: Runner.StageTables, manifest: JsonNode)
    extends Workload(spark, in, tables, manifest) {

  private val forms: Seq[(String, String)] =
    manifest.get("forms").fields().asScala.toSeq.map(e => e.getKey -> s"$in/${e.getValue.get("dir").asText()}")
  private val trips = s"$in/trips.csv"
  private val points = s"$in/points"
  private val registry = s"$in/registry.csv"

  def outputs: Seq[(String, String)] = Seq(
    "raw" -> tables.raw, "preprocessed" -> tables.preprocessed, "validated" -> tables.validated,
    "alert_flags" -> tables.alertFlags, "merged_trips" -> tables.mergedTrips,
    "landings_summary" -> tables.landingsSummary, "matched_tracks" -> tables.matchedTracks)

  private def sources(): (Seq[(String, DataFrame)], DataFrame, DataFrame, DataFrame) = (
    forms.map { case (name, dir) => name -> Sources.koboSubmissions(spark, dir) },
    Sources.pdsTrips(spark, trips),
    Sources.pdsTripPoints(spark, points),
    Sources.metadataSheet(spark, registry))

  def run(): Unit = {
    val (f, t, p, r) = sources()
    Runner.runAll(spark, tables, f, t, p, r)
  }

  // The six calls in Runner.runAll's order.
  def runStaged(h: StageHook): Unit = {
    val (f, t, p, r) = h("sources", forms.map(_._2) :+ registry, Nil)(sources())
    h("ingest", forms.map(_._2), Seq(tables.raw))(Runner.ingest(spark, tables, f))
    h("preprocess", Seq(tables.raw), Seq(tables.preprocessed))(Runner.preprocess(spark, tables))
    h("validate", Seq(tables.preprocessed), Seq(tables.validated, tables.alertFlags))(
      Runner.validate(spark, tables))
    h("merge", Seq(tables.preprocessed, trips, registry), Seq(tables.mergedTrips))(
      Runner.mergeTrips(spark, tables, t, r))
    h("export_landings", Seq(tables.validated), Seq(tables.landingsSummary))(
      Runner.exportLandings(spark, tables))
    h("export_tracks", Seq(tables.mergedTrips, points), Seq(tables.matchedTracks))(
      Runner.exportTracks(spark, tables, p))
  }

  override def keySums: Map[String, String] = Map("merged_trips" -> "Trip")

  def checkOutputs(ds: Map[String, Digest]): Seq[String] = {
    val n = expected("raw_rows")
    Seq("raw", "preprocessed", "validated", "alert_flags", "landings_summary")
      .flatMap(t => expect(s"$t rows", ds(t).rows, n)) ++
      expect("merged_trips rows (planted 1:1 matches)", ds("merged_trips").rows, expected("merged_trips_rows")) ++
      expect("merged_trips Trip id sum", ds("merged_trips").keySum, expected("merged_trip_id_sum")) ++
      expect("matched_tracks rows (10-minute buckets)", ds("matched_tracks").rows, expected("matched_tracks_rows"))
  }
}

/** The default `Runner.curate` chain over a generated corpus. */
final class Curation(spark: SparkSession, in: String, tables: Runner.StageTables, manifest: JsonNode)
    extends Workload(spark, in, tables, manifest) {

  private val corpus = s"$in/corpus.json"

  private def docs(): DataFrame = spark.read.schema("doc_id LONG, text STRING").json(corpus)

  def outputs: Seq[(String, String)] = Seq("curated_chunks" -> tables.curatedChunks)

  def run(): Unit = Runner.curate(spark, tables, docs())

  def runStaged(h: StageHook): Unit =
    h("curate", Seq(corpus), Seq(tables.curatedChunks))(Runner.curate(spark, tables, docs()))

  def checkOutputs(ds: Map[String, Digest]): Seq[String] = {
    val planted = manifest.get("planted_ids").elements().asScala.map(_.asLong()).toSeq
    val ids = spark.read.parquet(tables.curatedChunks).select("doc_id").distinct()
    val r = ids.agg(count(lit(1)), sum(col("doc_id")),
      sum(when(col("doc_id").isin(planted: _*), 1).otherwise(0))).head()
    expect("surviving documents", r.getLong(0), expected("surviving_docs")) ++
      expect("surviving doc_id sum", if (r.isNullAt(1)) 0L else r.getLong(1), expected("surviving_doc_id_sum")) ++
      expect("planted duplicates surviving", if (r.isNullAt(2)) 0L else r.getLong(2), 0L)
  }
}
