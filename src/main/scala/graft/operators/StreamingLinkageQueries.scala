package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental entity resolution — [[LinkageQueries.entityResolve]]
  * maintained as records arrive, composing the contracted-mapping CC
  * state ([[StreamingComponentsQueries]]'s class) with the
  * DISTINCT-STRING contraction that makes the batch arm scale: the
  * quadratic levenshtein term runs on the string grain, and the string
  * store is bounded by |name space| × |corruption positions| no matter
  * how many records stream through.
  *
  * Two-part state:
  *   1. A compacted string store (blk, dirty_name, rep) — rep is the
  *      min record key seen for that string. Per trigger: merge the
  *      batch's per-string minima (a keyed min — the SCD2 compacted-
  *      store discipline), probe NEW strings against all stored
  *      strings with the blocked levenshtein ≤ 2 join (string pairs
  *      already linked were emitted when the younger string arrived),
  *      and emit star edges batch-record → merged rep.
  *   2. The contracted component mapping, re-contracted with the new
  *      edges through the shared star rounds (exact by the
  *      contraction-homomorphism identity).
  *
  * REPRESENTATIVE REPAIR — the subtle retraction-like case: a late
  * arrival with a SMALLER key than its string's stored rep takes over
  * as rep, and the old rep's star edges point at a node that no longer
  * self-identifies; the trigger emits an (old_rep, new_rep) edge so
  * the group stays connected. The batches are HASH-striped (not
  * id-ordered) precisely so this path executes on the fixture — an
  * id-ordered split would never demote a rep and a missing repair edge
  * would pass silently. StreamingLinkageSpec's bit-identity to the
  * batch relation therefore covers it.
  *
  * Oracle: the literally-same SQL as the batch arm
  * ([[LinkageQueries.entityResolveSql]]). Determinism: staged
  * single-file batches, `maxFilesPerTrigger=1`, `Trigger.AvailableNow`.
  */
object StreamingLinkageQueries {

  def streamEntityResolve(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamingQueries.{emptyFrame, pathTag,
      releaseCheckpoint, runBatchesWithId, scratchDir, stageBatches}
    val dirty = LinkageQueries.dirtyRel(s, dir).localCheckpoint()
    // hash stripes: arrival order decorrelated from key order, so rep
    // demotions (the repair path) actually occur
    val staging = stageBatches("graft_stream_er_stage_" + pathTag(dir),
      (0 until 3).map(i => dirty.filter(
        pmod(graft.functions.PortableHash.raw(col("p_partkey")), lit(3))
          === i)))

    val base = scratchDir("graft_stream_er", dir)
    @volatile var stringsPath: Option[String] = None
    @volatile var mappingPath: Option[String] = None

    runBatchesWithId(s, dirty.schema, staging) { (batch, bid) =>
      val ss = batch.sparkSession
      val b = batch.localCheckpoint(true)
      val bs = b.groupBy(col("blk"), col("dirty_name"))
        .agg(min(col("p_partkey")).as("rep"))
      val prev = stringsPath match {
        case Some(p) => ss.read.parquet(p)
        case None => emptyFrame(ss, "blk STRING, dirty_name STRING, rep LONG")
      }
      val merged = prev.unionByName(bs)
        .groupBy(col("blk"), col("dirty_name"))
        .agg(min(col("rep")).as("rep"))
        .localCheckpoint(true) // four consumers below
      // strings first seen this trigger — the only left side the
      // pairwise probe needs (older pairs were emitted on arrival)
      val newStrings = merged.join(prev.select(col("blk"),
          col("dirty_name")), Seq("blk", "dirty_name"), "left_anti")
      // rep demoted: keep the group connected through the old rep
      val repairEdges = prev.join(
          merged.select(col("blk"), col("dirty_name"),
            col("rep").as("new_rep")), Seq("blk", "dirty_name"))
        .filter(col("new_rep") < col("rep"))
        .select(col("new_rep").as("u"), col("rep").as("v"))
      val starEdges = b.join(merged, Seq("blk", "dirty_name"))
        .filter(col("p_partkey") =!= col("rep"))
        .select(col("rep").as("u"), col("p_partkey").as("v"))
      val pairEdges = newStrings.join(
          merged.select(col("blk"), col("dirty_name").as("nb_name"),
            col("rep").as("nb_key")), Seq("blk"))
        .filter(col("dirty_name") =!= col("nb_name") &&
          levenshtein(col("dirty_name"), col("nb_name")) <= 2)
        .select(least(col("rep"), col("nb_key")).as("u"),
          greatest(col("rep"), col("nb_key")).as("v"))
        .distinct()
      val prevMapping = mappingPath match {
        case Some(p) => ss.read.parquet(p)
        case None => emptyFrame(ss, "u LONG, v LONG")
      }
      val next = DedupQueries.connectedComponents(prevMapping
        .unionByName(repairEdges).unionByName(starEdges)
        .unionByName(pairEdges))
      val nextStrings = s"$base/strings_g$bid"
      merged.write.mode("overwrite").parquet(nextStrings)
      stringsPath = Some(nextStrings)
      val nextMapping = s"$base/mapping_g$bid"
      next.write.mode("overwrite").parquet(nextMapping)
      mappingPath = Some(nextMapping)
      Seq(b, merged, next).foreach(releaseCheckpoint)
    }

    // the batch arm's readout tail over the final mapping
    val comp = s.read.parquet(mappingPath.get)
      .select(col("u").as("p_partkey"), col("v").as("entity"))
    dirty.select(col("p_partkey"), col("dirty_name"))
      .join(comp, Seq("p_partkey"), "left_outer")
      .withColumn("entity", coalesce(col("entity"), col("p_partkey")))
      .withColumn("is_canonical", col("p_partkey") === col("entity"))
      .select(col("p_partkey"), col("dirty_name"), col("entity"),
        col("is_canonical"))
      .orderBy(col("p_partkey"))
  }

  val all: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] =
    Seq(("stream_entity_resolve", streamEntityResolve _,
      Some(LinkageQueries.entityResolveSql)))
}
