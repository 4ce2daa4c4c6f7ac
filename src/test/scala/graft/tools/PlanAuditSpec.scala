package graft.tools

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** The registry scan count behind `PlanAudit scans`. The bound on
  * `mwas_pipeline_full` is the count its bioproject-local readout and
  * condenser plan reads today: a change that grows the plan back past it
  * fails here. */
class PlanAuditSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("plan-audit-spec")
    .getOrCreate()

  private lazy val counts = PlanAudit.scanCounts(spark, dir,
    SparkEntry.queries.keys.filter(_.startsWith("stream_")) ++
      Seq("q6_outer_join", "mwas_pipeline_full")).toMap

  test("scans skips every stream query and counts q6_outer_join's scans") {
    assert(SparkEntry.queries.keys.exists(_.startsWith("stream_")))
    assert(counts.keySet == Set("q6_outer_join", "mwas_pipeline_full"))
    assert(counts("q6_outer_join") >= 1)
  }

  test("mwas_pipeline_full reads at most 10 scans") {
    assert(counts("mwas_pipeline_full") <= 10)
  }
}
