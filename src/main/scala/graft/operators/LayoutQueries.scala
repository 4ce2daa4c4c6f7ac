package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Data-layout operators: multi-dimensional clustering for scan pruning.
  *
  * At 100 TB the dominant cost of most queries is the scan, and the only
  * lever that beats a faster scan is a SMALLER one: lay the data out so
  * that a predicate on ANY clustered dimension maps to a small fraction
  * of the files, and min/max file statistics (parquet row-group stats,
  * Delta/Iceberg file stats) prune the rest before a byte is read. A
  * plain sort clusters exactly one dimension; Z-ordering (bit-interleaved
  * Morton codes, the technique behind Delta's `OPTIMIZE ZORDER BY` and
  * Iceberg's sort-order z-curves) trades a little locality on each
  * dimension for bounded locality on all of them: with d dimensions and
  * 2^k z-range files, each file spans ~2^(-k/d) of EVERY dimension's
  * range.
  *
  * [[zorderLayout]] demonstrates (and verifies, cross-engine) the whole
  * mechanism on `lineitem(l_partkey, l_suppkey)`: bucketize each
  * dimension to 8 bits against its actual min/max, interleave to a
  * 16-bit Morton code, group into 64 equal-z-range logical files, and
  * report each file's per-dimension bounding box and span fraction. With
  * 64 files the curve fixes 3 high bits of each dimension, so every span
  * fraction must come out ≈ 1/8 — the pruning guarantee, stated as data:
  * a predicate `l_partkey = K` overlaps the bounding box of only ~1/8 of
  * the files (vs 100% under natural order, vs 1/64 for partkey alone but
  * 100% for suppkey under a single-dimension sort).
  *
  * Scale shape: the z-code is pure per-row integer arithmetic (codegen'd,
  * no shuffle); the min/max prologue is one tiny scalar aggregate
  * broadcast to the scan; the stats roll up map-side into 64 groups. The
  * production write path is `repartitionByRange(col("z"))` + write (range
  * boundaries from sampling, equal-ROWS files); the fixed equal-z-range
  * grouping here is the deterministic equivalent that a second engine can
  * replay bit-for-bit — same curve, same bounding-box math, same pruning
  * bound, minus the nondeterministic sampler.
  */
object LayoutQueries {

  /** Morton interleave of two 8-bit bucket columns (long-typed):
    * bit j of bx lands at position 2j, bit j of by at 2j+1. Written as a
    * sum of 16 masked terms so the DuckDB oracle can state literally the
    * same integer arithmetic. */
  private def morton(bx: Column, by: Column): Column =
    (0 until 8).map { j =>
      (shiftright(bx, j).bitwiseAND(lit(1L)) * lit(1L << (2 * j))) +
        (shiftright(by, j).bitwiseAND(lit(1L)) * lit(1L << (2 * j + 1)))
    }.reduce(_ + _)

  private def mortonSql(bx: String, by: String): String =
    (0 until 8).map { j =>
      s"(($bx >> $j) & 1) * ${1L << (2 * j)} + " +
        s"(($by >> $j) & 1) * ${1L << (2 * j + 1)}"
    }.mkString(" + ")

  /** Append bucketization + Morton-code columns (`bx`, `by`, `z`) to a
    * relation carrying long `pk`/`sk` columns: one scalar-aggregate
    * bounds prologue broadcast into the scan, then pure map-side integer
    * arithmetic. The scan pruning a z-ordered write buys is measured in
    * NOTES_r11. */
  private def withZ(li: DataFrame): DataFrame = {
    // `div` (integral division) — `/` on longs is double division in
    // both engines and floor()ing it can mis-bucket when the quotient
    // rounds up across an integer boundary
    val bounds = li.agg(
      min(col("pk")).as("min_pk"), max(col("pk")).as("max_pk"),
      min(col("sk")).as("min_sk"), max(col("sk")).as("max_sk"))
    li.crossJoin(broadcast(bounds))
      .withColumn("bx",
        expr("((pk - min_pk) * 256) div greatest(max_pk - min_pk + 1, 1)"))
      .withColumn("by",
        expr("((sk - min_sk) * 256) div greatest(max_sk - min_sk + 1, 1)"))
      .withColumn("z", morton(col("bx"), col("by")))
  }

  def zorderLayout(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
      .select(col("l_partkey").cast("long").as("pk"),
        col("l_suppkey").cast("long").as("sk"))
    val z = withZ(li).withColumn("file_id", shiftright(col("z"), 10))
    z.groupBy(col("file_id"))
      .agg(count(lit(1)).as("cnt"),
        min(col("pk")).as("lo_pk"), max(col("pk")).as("hi_pk"),
        min(col("sk")).as("lo_sk"), max(col("sk")).as("hi_sk"),
        first(col("max_pk") - col("min_pk") + 1L).as("rng_pk"),
        first(col("max_sk") - col("min_sk") + 1L).as("rng_sk"))
      .select(col("file_id"), col("cnt"),
        col("lo_pk"), col("hi_pk"), col("lo_sk"), col("hi_sk"),
        round((col("hi_pk") - col("lo_pk") + 1L).cast("double") /
          col("rng_pk"), 6).as("pk_span_frac"),
        round((col("hi_sk") - col("lo_sk") + 1L).cast("double") /
          col("rng_sk"), 6).as("sk_span_frac"))
      .orderBy(col("file_id"))
  }

  val zorderLayoutSql: String =
    s"""WITH li AS (
       |  SELECT CAST(l_partkey AS BIGINT) AS pk,
       |         CAST(l_suppkey AS BIGINT) AS sk
       |  FROM lineitem),
       |b AS (SELECT min(pk) AS min_pk, max(pk) AS max_pk,
       |             min(sk) AS min_sk, max(sk) AS max_sk FROM li),
       |z AS (
       |  SELECT pk, sk, max_pk - min_pk + 1 AS rng_pk,
       |         max_sk - min_sk + 1 AS rng_sk,
       |    ((pk - min_pk) * 256) // greatest(max_pk - min_pk + 1, 1) AS bx,
       |    ((sk - min_sk) * 256) // greatest(max_sk - min_sk + 1, 1) AS by
       |  FROM li CROSS JOIN b),
       |f AS (SELECT pk, sk, rng_pk, rng_sk,
       |        (${mortonSql("bx", "by")}) >> 10 AS file_id
       |      FROM z)
       |SELECT file_id, CAST(count(*) AS BIGINT) AS cnt,
       |       min(pk) AS lo_pk, max(pk) AS hi_pk,
       |       min(sk) AS lo_sk, max(sk) AS hi_sk,
       |       round(CAST(max(pk) - min(pk) + 1 AS DOUBLE)
       |         / any_value(rng_pk), 6) AS pk_span_frac,
       |       round(CAST(max(sk) - min(sk) + 1 AS DOUBLE)
       |         / any_value(rng_sk), 6) AS sk_span_frac
       |FROM f GROUP BY file_id ORDER BY file_id""".stripMargin

  val all: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] =
    Seq(("zorder_layout", zorderLayout _, Some(zorderLayoutSql)))
}
