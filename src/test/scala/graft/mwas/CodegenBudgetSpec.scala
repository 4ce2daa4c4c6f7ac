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
  * not a time, so this gate holds on a loaded host too.
  *
  * The class cache is JVM-wide, so a cold count is only cold in a JVM that
  * has run no other job: every suite mixing this in holds ONE case and
  * runs in a JVM of its own (build.sbt's `testGrouping`). */
trait CodegenBudget extends AnyFunSuite {

  // a session of its own: the shared test session carries other suites'
  // runtime conf (BucketSpec turns broadcast joins off, which adds sort
  // and join stages), and the budget holds for the conf the CLI runs with
  protected lazy val spark: SparkSession = {
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

  /** Two bioprojects of 20 biosamples, 1–2 runs each, two groups: the
    * catalog and input CSV under `dir`. */
  protected def writeInputs(dir: String): Unit = {
    import spark.implicits._
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
  }

  /** Cold and warm compiles of a default-flag job over pre-condensed sets:
    * a 2-member (Welch), a 5-member (exact: C(20,5) within the 20000
    * enumeration cutoff) and a 6-member (Monte-Carlo) set per bioproject,
    * so all three routes run. */
  protected def defaultFlagJob(dir: String): (Long, Long) = {
    import spark.implicits._
    writeInputs(dir)
    val sets = for (bp <- 1 to 2; (n, inc) <- Seq((2, true), (5, false),
        (6, true)))
      yield (s"bp$bp", "factor", s"v$n", (1 to n).map(i => s"P$bp-BS$i"),
        n, inc, 20)
    sets.toDF("bioproject", "attributes", "values", "members", "n_stored",
      "include", "n_biosamples")
      .write.mode("overwrite").parquet(s"$dir/sets")
    coldWarm(dir, s"$dir/sets")
  }

  /** Janino compiles of a cold and then a warm `MwasCli.run` over
    * `dir`'s inputs and `metadata`; both jobs must give the same counts. */
  protected def coldWarm(dir: String, metadata: String,
      flags: String*): (Long, Long) = {
    val args = Array(s"$dir/input.csv", s"$dir/catalog", metadata,
      s"$dir/out") ++ flags
    def compiles(): (Long, (Long, Long)) = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val result = MwasCli.run(spark, args)
      (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before, result)
    }
    val (cold, first) = compiles()
    val (warm, second) = compiles()
    info(s"$cold classes compiled cold, $warm warm")
    assert(first._1 > 0 && second === first)
    (cold, warm)
  }
}

class CodegenBudgetSpec extends CodegenBudget {

  test("a warm MwasCli job compiles almost nothing; a cold one stays " +
      "under the codegen cache") {
    val dir = graft.core.TempDirs.create("graft_codegen")
    val (cold, warm) = defaultFlagJob(dir)
    assert(cold <= 90, s"cold job compiled $cold classes")
    assert(warm <= 5, s"warm job compiled $warm classes")
  }
}

/** The same job with every join a shuffle join, as a large input plans it:
  * the sort-merge joins add stages, so this is where a second reader of the
  * readout would overflow the cache. */
class CodegenBudgetNoBroadcastSpec extends CodegenBudget {

  test("the default-flag job fits the codegen cache with broadcast joins " +
      "off") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val dir = graft.core.TempDirs.create("graft_codegen_nobc")
    val (cold, warm) = defaultFlagJob(dir)
    assert(cold <= 90, s"cold job compiled $cold classes")
    assert(warm <= 5, s"warm job compiled $warm classes")
  }
}

class CodegenBudgetLongFormSpec extends CodegenBudget {

  test("an --only-t-test job condensing long-form metadata on the fly " +
      "fits the codegen cache too") {
    import spark.implicits._
    val dir = graft.core.TempDirs.create("graft_codegen_long")
    writeInputs(dir)
    // the long relation MwasIntake condenses: a two-level, a three-level
    // and a rare factor with missing cells, plus a constant and an
    // all-unique attribute that r2 prunes
    val metadata = for (bp <- 1 to 2; i <- 1 to 20; (attr, value) <- Seq(
        "segment" -> s"s${i % 2}",
        "tissue" -> (if (i % 7 == 0) "nan" else s"t${i % 3}"),
        "rare" -> (if (i <= 3) "r" else ""),
        "status" -> "live",
        "alias" -> s"a$i"))
      yield (s"bp$bp", s"P$bp-BS$i", attr, value)
    metadata.toDF("bioproject", "biosample_id", "attribute", "value")
      .write.mode("overwrite").parquet(s"$dir/metadata")
    val (cold, warm) = coldWarm(dir, s"$dir/metadata", "--only-t-test")
    assert(cold <= 70, s"cold job compiled $cold classes")
    assert(warm <= 5, s"warm job compiled $warm classes")
  }
}
