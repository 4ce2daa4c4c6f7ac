package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Events

/** Incremental Markov transition matrix — the stateful-sequence case
  * the sufficient-statistics stream ([[StreamingExperimentQueries]])
  * does not cover: a transition can SPAN a batch boundary, so per-batch
  * work alone under-counts. Per batch this maintains two stores:
  *
  *   - `pairs`: the batch's within-batch (cur → next) lead() pairs,
  *     PLUS the junction pairs — each user's stored last event from all
  *     prior batches paired with their first event of this batch;
  *   - `last`: one row per (user, batch) with the user's final event —
  *     the readout of "the user's latest event so far" is a max over
  *     the append-only store, so the state write stays append-only
  *     (no read-modify-write of a live store).
  *
  * The decomposition is EXACT: within-batch pairs + junction pairs
  * partition a user's full sequence pairs (batches are staged in event
  * order), so the readout hash-oracles against the literally-same SQL
  * as the batch query ([[BehaviorQueries.markovTransitionsSql]]). Per
  * batch the work is one lead() window over the batch + one max-per-
  * user over state ∝ users — never historical raw events.
  *
  * Exactness assumption, stated: batch boundaries must not interleave
  * a user's timeline — true here because event_id is assigned in
  * arrival order, so the id-range staging is time-ordered per user
  * (the event-log contract). An out-of-order source needs the
  * watermark-and-reorder front the windowed streaming queries use, or
  * a junction store keeping BOTH boundary events per (user, batch).
  */
object StreamingMarkovQueries {

  def streamMarkov(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamingQueries.{releaseCheckpoint, runBatches,
      scratchDir, stageThirds}
    val ev = Events(s, dir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"))
    val staging = stageThirds(
      "graft_stream_mkv_stage_" + graft.streaming.StreamingQueries.pathTag(dir),
      ev, "event_id")
    val base = scratchDir("graft_stream_mkv", dir)
    val pairsDir = s"$base/pairs"
    val lastDir = s"$base/last"

    runBatches(s, ev.schema, staging) { batch =>
      val ss = batch.sparkSession
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val b = batch
        .withColumn("next", lead(col("event_type"), 1).over(byUser))
        .localCheckpoint(true)
      // within-batch transitions
      val within = b.filter(col("next").isNotNull)
        .groupBy(col("event_type").as("cur"), col("next"))
        .agg(count(lit(1)).as("n"))
      // junction: stored latest event per user × the user's batch head
      val prior =
        if (new java.io.File(lastDir).exists()) {
          val lastW = Window.partitionBy(col("user_id"))
            .orderBy(col("ts").desc, col("event_id").desc)
          Some(ss.read.parquet(lastDir)
            .withColumn("rn", row_number().over(lastW))
            .filter(col("rn") === 1)
            .select(col("user_id"), col("event_type").as("cur")))
        } else None
      val junction = prior.map { p =>
        val headW = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val heads = b
          .withColumn("rn", row_number().over(headW))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("event_type").as("next"))
        p.join(heads, Seq("user_id"))
          .groupBy(col("cur"), col("next"))
          .agg(count(lit(1)).as("n"))
      }
      junction.fold(within)(within.unionByName(_))
        .write.mode("append").parquet(pairsDir)
      // append this batch's per-user final event to the last-store
      val tailW = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      b.withColumn("rn", row_number().over(tailW))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .write.mode("append").parquet(lastDir)
      releaseCheckpoint(b)
    }

    val wcur = Window.partitionBy(col("cur"))
    s.read.parquet(pairsDir)
      .groupBy(col("cur"), col("next"))
      .agg(sum(col("n")).as("n"))
      .withColumn("p",
        round(col("n").cast("double") / sum(col("n")).over(wcur), 6))
      .orderBy(col("cur"), col("next"))
  }

  val all: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] =
    Seq(("stream_markov", streamMarkov _,
      Some(BehaviorQueries.markovTransitionsSql)))
}
