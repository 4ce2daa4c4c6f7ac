package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Events

/** Incremental A/B experiment readout — the always-on experimentation
  * dashboard shape: per arriving batch, reduce the raw events to
  * per-(user, event_type) PARTIAL sums and counts (the sufficient
  * statistics of a mean — sums are mergeable, means are not), append
  * them to the accumulated store, and never touch historical raw events
  * again. The readout recovers each user's running mean as
  * total_sum / total_n and feeds the SAME
  * [[BehaviorQueries.experimentReadout]] code path the batch query
  * ends in — so the stream hash-oracles against the literally-same SQL
  * ([[BehaviorQueries.experimentTtestSql]]).
  *
  * State size is the (user × type) grain — bounded by the population,
  * not the stream; per-batch work is one map-side-combined aggregation
  * of the batch. This is the [[StreamingSketchQueries]] discipline
  * applied to sufficient statistics instead of sketch counters.
  *
  * Determinism: batches staged as single files with pinned ascending
  * mtimes, `maxFilesPerTrigger=1`, `Trigger.AvailableNow`.
  */
object StreamingExperimentQueries {

  def streamExperiment(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamingQueries.{runBatches, scratchDir, stageThirds}
    val ev = Events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"))
    val staging = stageThirds(
      "graft_stream_exp_stage_" + graft.streaming.StreamingQueries.pathTag(dir),
      ev, "event_id")
    val store = s"${scratchDir("graft_stream_exp", dir)}/user_type_sums"

    runBatches(s, ev.schema, staging) { batch =>
      batch.groupBy(col("user_id"), col("event_type"))
        .agg(sum(col("value")).as("sv"), count(lit(1)).as("n"))
        .write.mode("append").parquet(store)
    }

    val um = s.read.parquet(store)
      .groupBy(col("user_id"), col("event_type"))
      .agg(sum(col("sv")).as("tsv"), sum(col("n")).as("tn"))
      .select(col("user_id"), col("event_type"),
        (col("tsv") / col("tn")).as("um"))
    BehaviorQueries.experimentReadout(um)
  }

  val all: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] =
    Seq(("stream_experiment", streamExperiment _,
      Some(BehaviorQueries.experimentTtestSql)))
}
