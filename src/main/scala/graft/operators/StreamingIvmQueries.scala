package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Incremental materialized-view maintenance under a CDC feed WITH
  * RETRACTIONS — the missing state class in the §2.9 maintenance
  * taxonomy: every other stream here consumes append-only input, but a
  * real warehouse view sits on a changelog with updates and DELETES, and
  * maintaining `SELECT priority, count(*), sum(price) GROUP BY priority`
  * under those requires subtracting the BEFORE-image's contribution when
  * a row changes or dies (an update that moves a row across groups must
  * decrement one group and increment another).
  *
  * State: per-group (Δcount, Δcents) partials — |groups|-sized,
  * independent of both table size and change volume, because a CDC
  * record with before/after images (the Debezium envelope shape) folds
  * into ±contributions immediately: insert → +after, delete → −before,
  * update → both. Contributions are integers (long cents, the house
  * rule), so per-batch partials merge by sum exactly and groups whose
  * count reaches zero vanish from the readout — the retraction semantics
  * an append-only counter cannot express.
  *
  * The feed: the deterministic evolution the snapshot_diff/merge_upsert
  * family already uses, extended to a 4-batch history so batches carry
  * each op kind and a cross-GROUP migration: initial load (all inserts),
  * reprice every 5th key (cents + cents DIV 10 — exact integer), move
  * every 3rd key to the new '0-MOVED' priority (the group-migration
  * retraction), then delete every 11th key and insert a new negative key
  * for every 7th (values as of that point in history). The oracle
  * replays the same history in SQL and aggregates the final snapshot —
  * the streamed deltas must land on exactly that relation.
  *
  * Determinism: staged single-file batches, `maxFilesPerTrigger=1`,
  * `Trigger.AvailableNow` (the house deterministic-replay harness). */
object StreamingIvmQueries {

  /** The four CDC batches, derived deterministically from `orders`.
    * Envelope: (key, op I/U/D, b_priority, b_cents, a_priority, a_cents)
    * with null before on I and null after on D. */
  private def cdcBatches(s: SparkSession, dir: String): Seq[DataFrame] = {
    val nl = lit(null).cast("string")
    val nc = lit(null).cast("long")
    val v0 = Tables(s, dir, "orders").select(
      col("o_orderkey").as("key"),
      col("o_orderpriority").as("priority"),
      round(col("o_totalprice") * 100).cast("long").as("cents"))
    val v1 = v0.select(col("key"), col("priority"),
      when(col("key") % 5 === 0, col("cents") + expr("cents DIV 10"))
        .otherwise(col("cents")).as("cents"))
    val v2 = v1.select(col("key"),
      when(col("key") % 3 === 0, lit("0-MOVED"))
        .otherwise(col("priority")).as("priority"),
      col("cents"))
    def env(key: Column, op: String, bp: Column, bc: Column,
        ap: Column, ac: Column): Seq[Column] =
      Seq(key.as("key"), lit(op).as("op"), bp.as("b_priority"),
        bc.as("b_cents"), ap.as("a_priority"), ac.as("a_cents"))
    val b1 = v0.select(env(col("key"), "I", nl, nc,
      col("priority"), col("cents")): _*)
    val b2 = v0.filter(col("key") % 5 === 0)
      .select(env(col("key"), "U", col("priority"), col("cents"),
        col("priority"), col("cents") + expr("cents DIV 10")): _*)
    val b3 = v1.filter(col("key") % 3 === 0)
      .select(env(col("key"), "U", col("priority"), col("cents"),
        lit("0-MOVED"), col("cents")): _*)
    val b4 = v2.filter(col("key") % 11 === 0)
      .select(env(col("key"), "D", col("priority"), col("cents"),
        nl, nc): _*)
      .unionByName(v2.filter(col("key") % 7 === 0)
        .select(env(-col("key") - 1L, "I", nl, nc,
          col("priority"), col("cents")): _*))
    Seq(b1, b2, b3, b4)
  }

  def streamIvmAgg(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamingQueries.{BatchStore, runBatchesWithId,
      scratchDir}
    val batches = cdcBatches(s, dir)
    val staging = graft.streaming.StreamingQueries.stageBatches(
      "graft_stream_ivm_stage_" + graft.streaming.StreamingQueries.pathTag(dir),
      batches)

    val deltas =
      BatchStore(s"${scratchDir("graft_stream_ivm", dir)}/deltas")

    runBatchesWithId(s, batches.head.schema, staging) { (batch, bid) =>
      // each record folds to ±contributions: after-image adds (I, U),
      // before-image retracts (U, D); the null side of I/D carries dn=0
      // and a null group, dropped before the partial aggregate
      deltas.write(batch.select(explode(array(
          struct(col("a_priority").as("priority"),
            when(col("op") =!= "D", lit(1L)).otherwise(lit(0L)).as("dn"),
            when(col("op") =!= "D", col("a_cents")).otherwise(lit(0L))
              .as("dcents")),
          struct(col("b_priority").as("priority"),
            when(col("op") =!= "I", lit(-1L)).otherwise(lit(0L)).as("dn"),
            when(col("op") =!= "I", -col("b_cents")).otherwise(lit(0L))
              .as("dcents")))).as("c"))
        .select(col("c.*"))
        .filter(col("priority").isNotNull)
        .groupBy(col("priority"))
        .agg(sum(col("dn")).as("dn"), sum(col("dcents")).as("dcents")),
        // batchId-keyed (not a blind append): if the engine ever
        // re-executes a micro-batch after a transient task failure, the
        // deltas stay exactly-once — partials are NOT ratio-invariant, a
        // double-append would silently double-count
        bid)
    }

    // merge = integer sum; groups retracted to zero rows disappear,
    // exactly as they are absent from the final snapshot's aggregate
    deltas.readAll(s)
      .groupBy(col("priority"))
      .agg(sum(col("dn")).as("n_orders"), sum(col("dcents")).as("cents"))
      .filter(col("n_orders") > 0)
      .select(col("priority"), col("n_orders"),
        round(col("cents").cast("double") / 100.0, 2).as("total_price"))
      .orderBy(col("priority"))
  }

  /** The final snapshot's aggregate, with the CDC history replayed in
    * SQL — what the maintained view must equal. */
  val streamIvmAggSql: String =
    """WITH v0 AS (
      |  SELECT o_orderkey AS key, o_orderpriority AS priority,
      |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders),
      |v1 AS (SELECT key, priority,
      |         CASE WHEN key % 5 = 0 THEN cents + cents // 10
      |              ELSE cents END AS cents
      |       FROM v0),
      |v2 AS (SELECT key,
      |         CASE WHEN key % 3 = 0 THEN '0-MOVED'
      |              ELSE priority END AS priority,
      |         cents
      |       FROM v1),
      |v3 AS (SELECT key, priority, cents FROM v2 WHERE key % 11 <> 0
      |       UNION ALL
      |       SELECT -key - 1, priority, cents FROM v2 WHERE key % 7 = 0)
      |SELECT priority, CAST(count(*) AS BIGINT) AS n_orders,
      |       round(CAST(sum(cents) AS DOUBLE) / 100, 2) AS total_price
      |FROM v3 GROUP BY priority ORDER BY priority""".stripMargin

  val all: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] =
    Seq(("stream_ivm_agg", streamIvmAgg _, Some(streamIvmAggSql)))
}
