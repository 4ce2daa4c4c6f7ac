package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Events

/** Streaming twin of [[RangeJoinQueries.rangeJoinBinned]] — ingest-time
  * concurrency annotation: how many sessions were active at each arriving
  * point event.
  *
  * State model (the [[BloomQueries.streamDecontaminate]] class): the
  * interval side is SLOWLY-CHANGING — the binned session store is built
  * once from history and reused for the stream's lifetime — while points
  * arrive in batches. The join is stateless per point (a point's answer
  * depends only on itself and the interval store), so append IS the
  * merge: per-batch work is proportional to the batch, no accumulated
  * state, and the readout is batch-by-batch identical to the batch
  * query on the same rows. The oracle is therefore the literally-same
  * SQL as `range_join_binned`.
  *
  * The binned store is materialized to staging parquet once, so each
  * batch's equi-join re-reads a pruned scan instead of re-deriving the
  * sessionize window + explode — at 100 TB that is the difference
  * between one interval pass total and one per micro-batch. */
object StreamingRangeJoinQueries {

  private val BinUs = 3600L * 1000000L

  def streamRangeJoin(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamingQueries.{pathTag, runBatches,
      scratchDir, stageThirds}
    val base = scratchDir("graft_stream_rangejoin", dir)
    val spansDir = s"$base/spans"
    val outDir = s"$base/result"

    // slowly-changing side: sessionize + bin-explode exactly once
    WarehouseQueries.sessionSpans(s, dir)
      .select(col("user_id"),
        unix_micros(col("session_start")).as("lo"),
        unix_micros(col("session_end")).as("hi"),
        col("n_events"))
      .withColumn("bin",
        explode(sequence(expr(s"lo div $BinUs"), expr(s"hi div $BinUs"))))
      .write.mode("overwrite").parquet(spansDir)

    val pts = Events(s, dir)
      .filter(col("event_type") === "error")
      .select(col("event_id"), col("ts"))
    val staging = stageThirds(
      "graft_stream_rangejoin_stage_" + pathTag(dir), pts, "event_id")

    runBatches(s, pts.schema, staging) { batch =>
      val ss = batch.sparkSession
      val binnedPts = batch
        .withColumn("t", unix_micros(col("ts")))
        .withColumn("bin", expr(s"t div $BinUs"))
      binnedPts.alias("p")
        .join(ss.read.parquet(spansDir).alias("i"),
          col("p.bin") === col("i.bin") &&
            col("p.t") >= col("i.lo") && col("p.t") <= col("i.hi"),
          "left")
        .groupBy(col("p.event_id"), col("p.ts"))
        .agg(count(col("i.user_id")).as("n_active"),
          count(when(col("i.n_events") >= 5, 1)).as("n_active_heavy"))
        .select(col("event_id"), col("ts"), col("n_active"),
          col("n_active_heavy"))
        .write.mode("append").parquet(outDir)
    }
    s.read.parquet(outDir).orderBy(col("event_id"))
  }

  val all: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] =
    Seq(("stream_range_join", streamRangeJoin _,
      Some(RangeJoinQueries.rangeJoinBinnedSql)))
}
