package graft.streaming

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The checkpoint release the stream harness relies on: a
  * `localCheckpoint` stays resident through `Dataset.unpersist`, so
  * [[StreamingQueries.releaseCheckpoint]] reaches the checkpointed RDD,
  * and [[StreamingQueries.CarriedState]] keeps one version resident. */
class CarriedStateSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .appName("carried-state-spec")
    .getOrCreate()

  private def resident: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("unpersist leaves a localCheckpoint resident; releaseCheckpoint " +
      "frees it") {
    val before = resident
    val cp = spark.range(100).toDF().localCheckpoint()
    assert((resident -- before).size == 1)
    cp.unpersist(blocking = true)
    assert((resident -- before).size == 1)
    StreamingQueries.releaseCheckpoint(cp)
    assert(resident == before)
  }

  test("advancing the carried state releases the superseded version") {
    val before = resident
    val state = new StreamingQueries.CarriedState
    (1 to 4).foreach { i =>
      val next = state.current.fold(spark.range(10).toDF("id"))(
        _.selectExpr(s"id + $i AS id")).localCheckpoint()
      state.advance(next)
      assert((resident -- before).size == 1, s"after advance $i")
    }
    assert(state.on(spark).selectExpr("sum(id)").head().getLong(0) ==
      (0 until 10).sum + 10 * (2 + 3 + 4))
    state.release()
    assert(resident == before && state.current.isEmpty)
  }
}
