package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The incremental-ER twin's contract: hash-striped arrivals folded
  * through the string store + contracted mapping must land on EXACTLY
  * the batch resolution. The stripes are hash-keyed on purpose — they
  * demote string representatives across triggers, so a missing
  * (old_rep, new_rep) repair edge splits a group and fails the
  * bit-identity here; an id-ordered split would never exercise that
  * path. The spec also verifies the fixture actually demotes at least
  * one representative (the repair path ran, the gate is not vacuous). */
class StreamingLinkageSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("streaming-er-spec")
    .getOrCreate()

  test("streamed resolution is bit-identical to the batch arm") {
    val batch = LinkageQueries.entityResolve(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getBoolean(3)))
    val (out, stray) = BoundedState.stray(spark)(
      StreamingLinkageQueries.streamEntityResolve(spark, dir))
    // only the staged dirty relation, which the readout reads, may stay
    assert(stray.isEmpty, s"stream left unread persistent RDDs $stray")
    val stream = out
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getBoolean(3)))
    assert(stream.length == batch.length)
    assert(stream.sortBy(_._1).sameElements(batch.sortBy(_._1)),
      "stream resolution differs from batch")
    assert(batch.count(!_._4) > 0) // non-vacuous structure

    // the repair path is exercised: some string's min key does NOT live
    // in the earliest stripe that contains the string
    val rows = LinkageQueries.dirtyRel(spark, dir)
      .select(org.apache.spark.sql.functions.col("p_partkey"),
        org.apache.spark.sql.functions.col("dirty_name"),
        org.apache.spark.sql.functions.pmod(
          graft.functions.PortableHash.raw(
            org.apache.spark.sql.functions.col("p_partkey")),
          org.apache.spark.sql.functions.lit(3)).as("stripe"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val demoted = rows.groupBy(_._2).values.exists { g =>
      val firstStripe = g.map(_._3).min
      val globalMin = g.minBy(_._1)
      globalMin._3 != firstStripe
    }
    assert(demoted, "no representative demotion in the fixture split — " +
      "the repair path was not exercised")
  }
}
