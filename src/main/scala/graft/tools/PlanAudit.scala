package graft.tools

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

import graft.SparkEntry

/** Plan audit: the one entry point for reading registry query plans.
  *
  *   - `explain <q…>`: print each query's formatted physical plan.
  *   - `snap <q…>`: write it to `plans/<q>.txt`, the committed snapshots.
  *   - `final <q…>`: run each query (every output row, as the noop sink
  *     would), then print its AQE-final physical plan: the join
  *     strategies actually executed, not the static guess. Run it at two
  *     fixture scales and diff the join lines to diagnose an estimate
  *     cliff.
  *   - `scans`: registry-wide scan count, highest first (see
  *     [[scanCounts]]).
  *
  * The fixture is `SPARK_GRAFT_SF_DIR` (default sf0.01). Usage:
  * `sbt "runMain graft.tools.PlanAudit snap mwas_pipeline_full"`.
  */
object PlanAudit {

  private val scanRe = """(?m)^\s*(?:\+- |:- |)*.*Scan (parquet|orc|csv|json)""".r

  /** Parquet/orc/csv/json scans in each registry query's executed
    * physical plan, highest first (ties by name).
    * Catalyst performs no common-subplan reuse, so a derived relation
    * consumed by two operators silently re-scans (and re-computes) its
    * whole subtree — the smell that cost `dedup_canonical` a duplicated
    * corpus pass (NOTES_r10). A repeated scan is NOT automatically wrong
    * (self-joins and inclusion–exclusion formulations legitimately read
    * a table twice); the counts rank what a human audits against the
    * plan snapshot. `stream_*` queries are skipped: building one RUNS its
    * micro-batches, and its batch plan does not reflect the state-store
    * pipeline anyway. A query that fails to build is reported and left
    * out. */
  def scanCounts(spark: SparkSession, sfDir: String,
      names: Iterable[String] = SparkEntry.queries.keys): Seq[(String, Int)] =
    names.toSeq.sorted.filterNot(_.startsWith("stream_")).flatMap { name =>
      try {
        val plan = SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.executedPlan.toString
        Some(name -> scanRe.findAllIn(plan).size)
      } catch { case NonFatal(e) =>
        println(s"[planaudit] $name FAILED to build: ${e.getMessage}")
        None
      }
    }.sortBy(-_._2)

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def query(name: String): DataFrame = SparkEntry.queries(name)(spark, sfDir)
    try args.toList match {
      case "explain" :: names => names.foreach { name =>
        println(s"===== $name =====")
        println(formatted(query(name)))
      }
      case "snap" :: names => names.foreach { name =>
        Files.write(Paths.get(s"plans/$name.txt"),
          formatted(query(name)).getBytes)
        println(s"[snap] wrote plans/$name.txt")
      }
      case "final" :: names => names.foreach { name =>
        // run the query's OWN physical plan: a `df.write` plans a fresh
        // copy, leaving this one's AQE plan un-finalized
        val df = query(name)
        df.queryExecution.toRdd.foreach(_ => ())
        println(s"===== $name (AQE final) =====")
        println(df.queryExecution.executedPlan.toString)
      }
      case List("scans") =>
        scanCounts(spark, sfDir).foreach { case (name, n) =>
          println(f"[planaudit] $name%-28s scans=$n")
        }
      case other => sys.error("usage: explain <q…> | snap <q…> | " +
        s"final <q…> | scans; got $other")
    } finally spark.stop()
  }
}
