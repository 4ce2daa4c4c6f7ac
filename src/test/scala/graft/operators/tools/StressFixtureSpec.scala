package graft.operators.tools

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** `StressFixture.replicate` writes key-disjoint copies only: a base
  * whose shifted key reaches its stride is refused before anything is
  * written. */
class StressFixtureSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .appName("stress-fixture-spec")
    .getOrCreate()

  private def base(ids: Long*): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("stress_base").toString
    ids.map(id => (id, s"doc$id")).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("a base whose max key reaches the stride is refused") {
    val out = Files.createTempDirectory("stress_out").toString
    val e = intercept[IllegalArgumentException] {
      StressFixture.replicate(spark, base(0L, 10000000L), out,
        "documents", 3, "doc_id")
    }
    assert(e.getMessage.contains("documents.doc_id"))
    assert(!Files.exists(java.nio.file.Paths.get(s"$out/documents.parquet")))
  }

  test("a base below the stride replicates into disjoint keys") {
    val out = Files.createTempDirectory("stress_out").toString
    StressFixture.replicate(spark, base(0L, 9999999L), out,
      "documents", 3, "doc_id")
    val ids = spark.read.parquet(s"$out/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(0L, 9999999L, 10000000L, 19999999L, 20000000L,
      29999999L))
  }
}
