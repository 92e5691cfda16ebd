package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{LaraQueries, SparkEntry}
import graft.sensor.SensorPipeline
import graft.streaming.EventStreams

/** One query of a workload mix: `build` returns the result frame through
  * the engine's public entry points, from the session and the directory
  * `gen.py` wrote the seed's tables to; `oracle` is the DuckDB SQL that
  * must reproduce it over those tables (None = the Python side holds an
  * independent reference).
  */
final case class Query(name: String, build: (SparkSession, String) => DataFrame,
                       oracle: Option[String])

/** A query mix and the wall time one pass over it takes on a 4-core box.
  * A run measures `round(seconds / passSeconds)` passes: a count fixed
  * before it starts, so the two sides of an A/B do the same work and the
  * median never depends on how many passes happened to fit.
  */
final case class Workload(queries: Seq[Query], passSeconds: Double)

object Workloads {
  /** A query checked against the engine's own DuckDB oracle SQL. */
  private def contract(name: String, f: (SparkSession, String) => DataFrame): Query =
    Query(name, f, Some(SparkEntry.oracleSql(name)))

  val all: Map[String, Workload] = Map(
    "lara_flagship" -> Workload(Seq(
      Query("sensor_covariance", (spark, dataDir) => {
        def load(n: String) = SensorPipeline.parse(spark.read.text(s"$dataDir/$n.txt"))
        SensorPipeline.covariance(load("sensorA"), load("sensorB")).df
      }, None),
      contract("lara_covariance", LaraQueries.covariance),
      contract("lara_ext_wordcount", LaraQueries.extWordcount),
      contract("lara_union_plus", LaraQueries.unionPlus),
      contract("lara_join_times", LaraQueries.joinTimes),
      contract("lara_agg", LaraQueries.laraAgg)), passSeconds = 4.0),
    "build_phase" -> Workload(Seq(
      contract("bfs_levels", SparkEntry.queries("bfs_levels")),
      contract("streaming_dedup_replay", EventStreams.streamingDedupReplay)), passSeconds = 6.5))
}
