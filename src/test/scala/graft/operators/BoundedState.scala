package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The stream specs' bounded-state gate: a stream call may leave behind
  * only the persistent RDDs its returned frame reads (a carried mapping
  * it re-bases, say) — never a superseded checkpoint or a per-trigger
  * temporary, which would grow the block manager with every trigger. */
object BoundedState {

  /** Run `body`; return its frame and the ids of the persistent RDDs it
    * left behind that the frame does not read. */
  def stray(spark: SparkSession)(body: => DataFrame): (DataFrame, Set[Int]) = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val df = body
    val left = sc.getPersistentRDDs.keySet.toSet -- before
    (df, left -- readIds(df))
  }

  /** Every RDD under the frame's RDD-backed leaves, lineage included. */
  private def readIds(df: DataFrame): Set[Int] = {
    def lineage(r: RDD[_]): Set[Int] =
      r.dependencies.map(d => lineage(d.rdd)).foldLeft(Set(r.id))(_ ++ _)
    df.queryExecution.logical.collect { case l: LogicalRDD => l.rdd }
      .map(lineage).foldLeft(Set.empty[Int])(_ ++ _)
  }
}
