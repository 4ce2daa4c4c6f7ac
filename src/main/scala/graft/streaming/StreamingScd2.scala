package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental SCD type-2 maintenance — the CDC-ingest shape every
  * dimensional warehouse actually runs: change events arrive in
  * time-ordered batches; each batch CLOSES the open versions it
  * supersedes (appending them to the immutable history) and carries the
  * new open versions forward in a compacted per-key state store. Closed
  * rows are written once and never touched again; per-batch work is
  * O(batch + touched keys), never O(history) — the append-only property
  * that makes type-2 maintenance viable at 100 TB (the state store is
  * |keys|-sized, the history is write-only).
  *
  * The batch twin is [[graft.operators.WarehouseQueries.scd2History]];
  * the DuckDB oracle is the literally-same SQL, because the incremental
  * decomposition is EXACT: the open-version seed row (with its true
  * (ts, event_id) sort key and version number) makes each batch's
  * change detection and renumbering agree with the global
  * lag-over-all-history formulation, so closed ∪ open reproduces the
  * batch relation bit-for-bit.
  *
  * Determinism: the three batches are ts-range splits staged as single
  * files with pinned mtimes ([[StreamingQueries.stageBatches]]),
  * `maxFilesPerTrigger=1`, `Trigger.AvailableNow` — the house replay
  * harness. The open store is rewritten per batch (tiny, |users| rows);
  * generation-suffixed dirs keep each write atomic.
  */
object StreamingScd2 {

  def streamScd2(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.core.Events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("status"))
    // deterministic 3-way ts-range split (two scalar bounds to the driver)
    val (tsMin, tsMax) = {
      val r = ev.agg(min(unix_micros(col("ts"))),
        max(unix_micros(col("ts")))).head()
      if (r.isNullAt(0)) throw new IllegalArgumentException(
        "empty input relation: nothing to stream")
      (r.getLong(0), r.getLong(1))
    }
    val b1 = tsMin + (tsMax - tsMin) / 3
    val b2 = tsMin + 2 * (tsMax - tsMin) / 3
    val staging = StreamingQueries.stageBatches(
      "graft_stream_scd2_stage_" + StreamingQueries.pathTag(dir),
      Seq(ev.filter(unix_micros(col("ts")) <= b1),
        ev.filter(unix_micros(col("ts")) > b1 &&
          unix_micros(col("ts")) <= b2),
        ev.filter(unix_micros(col("ts")) > b2)))

    val base = StreamingQueries.scratchDir("graft_stream_scd2", dir)
    val closedDir = s"$base/closed"
    // generation-suffixed open-store dirs; the var tracks the live one
    // (foreachBatch executes strictly sequentially under AvailableNow)
    @volatile var openPath: Option[String] = None

    StreamingQueries.runBatchesWithId(s, ev.schema, staging) { (batch, bid) =>
      val ss = batch.sparkSession
      val seed = openPath match {
        case Some(p) => ss.read.parquet(p)
        case None => StreamingQueries.emptyFrame(ss,
          "user_id LONG, version INT, status STRING, " +
            "valid_from TIMESTAMP, event_id LONG")
      }
      // open versions re-enter as pseudo-events carrying their TRUE
      // (ts, event_id) sort key and version, so batch-local lag/renumber
      // agree exactly with the global formulation
      val all = seed.select(col("user_id"), col("valid_from").as("ts"),
          col("event_id"), col("status"), col("version").as("base"))
        .unionByName(batch.withColumn("base",
          lit(null).cast("int")))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val ch = all
        .withColumn("prev", lag(col("status"), 1).over(w))
        .filter(col("prev").isNull || col("prev") =!= col("status"))
      val userW = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val versioned = ch
        .withColumn("rn", row_number().over(userW))
        .withColumn("base_u", max(col("base")).over(
          Window.partitionBy(col("user_id"))))
        .withColumn("version",
          when(col("base_u").isNotNull, col("base_u") + col("rn") - 1)
            .otherwise(col("rn")))
        .withColumn("valid_to", lead(col("ts"), 1).over(userW))
        .select(col("user_id"), col("version"), col("status"),
          col("ts").as("valid_from"), col("valid_to"), col("event_id"))
      versioned.filter(col("valid_to").isNotNull)
        .drop("event_id")
        .write.mode("append").parquet(closedDir)
      val nextOpen = s"$base/open_g$bid"
      versioned.filter(col("valid_to").isNull)
        .select(col("user_id"), col("version"), col("status"),
          col("valid_from"), col("event_id"))
        .write.mode("overwrite").parquet(nextOpen)
      openPath = Some(nextOpen)
    }

    val closed = scala.util.Try(s.read.parquet(closedDir)).getOrElse(
      s.emptyDataFrame)
    val open = s.read.parquet(openPath.get)
      .select(col("user_id"), col("version"), col("status"),
        col("valid_from"), lit(null).cast("timestamp").as("valid_to"))
    val hist = if (closed.columns.isEmpty) open
      else closed.unionByName(open)
    hist
      .select(col("user_id"), col("version"), col("status"),
        col("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"))
      .orderBy(col("user_id"), col("version"))
  }

  val all: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] =
    Seq(("stream_scd2", streamScd2 _,
      Some(graft.operators.WarehouseQueries.scd2HistorySql)))
}
