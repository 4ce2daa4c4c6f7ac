package graft.mwas

import java.nio.file.{Files, Paths}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Generated-code budget of one CLI job. Spark caches compiled classes in
  * an LRU of `spark.sql.codegen.cache.maxEntries` (100) entries; a job
  * whose plans need more distinct classes than that evicts its own
  * classes and recompiles them on every run, and the JIT then compiles
  * the fresh classes again. The Janino compile counter is a work count,
  * not a time, so this gate holds on a loaded host too. */
class CodegenBudgetSpec extends AnyFunSuite {

  // a session of its own: the shared test session carries other suites'
  // runtime conf (BucketSpec turns broadcast joins off, which adds sort
  // and join stages), and the budget holds for the conf the CLI runs with
  private lazy val spark = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.ui.enabled", "false")
      .appName("codegen-budget-spec")
      .getOrCreate()
      .newSession()
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    s
  }

  test("a warm MwasCli job compiles almost nothing; a cold one stays " +
      "under the codegen cache") {
    import spark.implicits._
    val dir = graft.core.TempDirs.create("graft_codegen")
    // two bioprojects of 20 biosamples, 1–2 runs each, two groups;
    // default flags, so Welch, exact and Monte-Carlo permutation routes
    // all run
    val catalog = for (bp <- 1 to 2; i <- 1 to 20; r <- 1 to 1 + i % 2)
      yield (s"P$bp-R$i-$r", s"P$bp-BS$i", s"bp$bp", 1000000.0 * r)
    catalog.toDF("run", "bio_sample", "bio_project", "spots")
      .write.mode("overwrite").parquet(s"$dir/catalog")
    val rows = catalog.flatMap { case (run, _, _, _) =>
      Seq(s"$run,g1,${(run.hashCode & 0xff) % 50}",
        s"$run,g2,${(run.hashCode >>> 8 & 0xff) % 7}")
    }
    Files.writeString(Paths.get(s"$dir/input.csv"),
      ("run,group,quantifier" +: rows).mkString("\n"))
    // pre-condensed sets: a 2-member (Welch), a 5-member (exact: C(20,5)
    // within the 20000 enumeration cutoff) and a 6-member (Monte-Carlo)
    // set per bioproject
    val sets = for (bp <- 1 to 2; (n, inc) <- Seq((2, true), (5, false),
        (6, true)))
      yield (s"bp$bp", "factor", s"v$n", (1 to n).map(i => s"P$bp-BS$i"),
        n, inc, 20)
    sets.toDF("bioproject", "attributes", "values", "members", "n_stored",
      "include", "n_biosamples")
      .write.mode("overwrite").parquet(s"$dir/sets")

    val args = Array(s"$dir/input.csv", s"$dir/catalog", s"$dir/sets",
      s"$dir/out")
    def compiles(): (Long, (Long, Long)) = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val result = MwasCli.run(spark, args)
      (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before, result)
    }
    val (cold, first) = compiles()
    val (warm, second) = compiles()
    info(s"$cold classes compiled cold, $warm warm")
    assert(first._1 > 0 && second === first)
    assert(cold <= 90, s"cold job compiled $cold classes")
    assert(warm <= 5, s"warm job compiled $warm classes")
  }
}
