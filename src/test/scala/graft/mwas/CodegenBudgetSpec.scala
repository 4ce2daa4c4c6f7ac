package graft.mwas

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

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
    writeInputs(dir)
    writeSets(dir)
    coldWarm(dir, s"$dir/sets")
  }

  /** The pre-condensed sets of [[defaultFlagJob]] under `dir`. */
  protected def writeSets(dir: String): Unit = {
    import spark.implicits._
    val sets = for (bp <- 1 to 2; (n, inc) <- Seq((2, true), (5, false),
        (6, true)))
      yield (s"bp$bp", "factor", s"v$n", (1 to n).map(i => s"P$bp-BS$i"),
        n, inc, 20)
    sets.toDF("bioproject", "attributes", "values", "members", "n_stored",
      "include", "n_biosamples")
      .write.mode("overwrite").parquet(s"$dir/sets")
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

/** The server's warm request over the same inputs: a request is a job of
  * its own, so a standing server that recompiles per request pays the
  * compiler on every call. */
class CodegenBudgetServerSpec extends CodegenBudget {

  test("a warm MwasServer request compiles almost nothing") {
    val dir = graft.core.TempDirs.create("graft_codegen_server")
    writeInputs(dir)
    writeSets(dir)
    // the input CSV as the request body: a JSON array of row objects
    val body = Files.readAllLines(Paths.get(s"$dir/input.csv")).asScala
      .drop(1).map { line =>
        val Array(run, group, q) = line.split(",")
        s"""{"run":"$run","group":"$group","quantifier":$q}"""
      }.mkString("[", ",", "]")
    val server = MwasServer.start(spark, spark.read.parquet(s"$dir/catalog"),
      MwasIntake.toSets(spark.read.parquet(s"$dir/sets")), port = 0)
    try {
      val url = URI.create(
        s"http://127.0.0.1:${server.getAddress.getPort}/run_mwas").toURL
      def compiles(): (Long, String) = {
        val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val conn = url.openConnection().asInstanceOf[HttpURLConnection]
        conn.setRequestMethod("POST")
        conn.setDoOutput(true)
        conn.getOutputStream.write(body.getBytes(StandardCharsets.UTF_8))
        assert(conn.getResponseCode === 200)
        val reply = new String(conn.getInputStream.readAllBytes(),
          StandardCharsets.UTF_8)
        // the row and significance counts; the rows' order is free
        (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before,
          reply.take(reply.indexOf("\"results\"")))
      }
      val (warmup, first) = compiles()
      val (warm, second) = compiles()
      info(s"$warmup classes compiled by the warm-up request, $warm warm")
      assert(first.contains("\"rows\":12,") && second === first)
      assert(warm <= 5, s"warm request compiled $warm classes")
    } finally server.stop(0)
  }
}
