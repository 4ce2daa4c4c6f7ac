package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Every `SparkEntry.queries` entry must BUILD and RUN against the live
  * testdata — one generated test per registry name.
  *
  * Why this exists (VERDICT r9): the round-9 testdata regeneration
  * changed the events `ts` encoding and silently broke 11 registry
  * queries while 82 of 84 tests stayed green, because nothing in
  * `src/test` forced analysis of the registry surface. This spec turns
  * any future testdata/environment drift into a red `sbt test` within
  * one run: analysis exceptions (DATATYPE_MISMATCH and friends) surface
  * at plan build, execution drift at the `limit(1)` action.
  *
  * sf0.001 keeps the whole sweep inside the CI time budget; value-level
  * correctness stays the DuckDB oracle's job (Verify + selfcheck).
  */
class RegistrySmokeSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("registry-smoke")
    .getOrCreate()

  test("flagship entry() returns rows") {
    assert(SparkEntry.entry(spark).limit(1).count() == 1L)
  }

  /** The documented no-oracle set — every name here must carry a
    * justification in COVERAGE.md. A new query missing from BOTH
    * oracleSql and this list is a gate hole: the driver would silently
    * record a weaker rows-only check for it. */
  private val noOracleByDesign = Set(
    "q20_approx_distinct", // HLL sketch — exact twin q20_exact_distinct
    "q21_approx_aggs",     // percentile sketch — exact twin q21_stat_aggs
    "q23_permutation",     // seeded resample RNG — spec-oracled vs brute
                           // force; exact twin q23_permutation_exact is
                           // hash-oracled (r11); MC p-values machine-
                           // gated within 3·SE of exact enumeration on
                           // the shared domain (ToleranceSpec, r14)
    // pickle_migrate / pickle_ds_scan left this list in r13: DuckDB
    // still cannot read pickle, but it CAN read the pandas-exported
    // parquet mirror (tools/picklemirror.py), which is now their oracle
    "ann_ivf")             // k-means|| fit (Spark-ML internal randomness) —
                           // recall/budget gate (AnnRecallSpec); frozen-
                           // codebook twin ann_ivf_assign is hash-oracled
                           // (r11), and the deterministic Lloyd fit
                           // itself is hash-oracled as ann_ivf_exactfit
                           // (r13)

  // ---- golden oracle-type registry (VERDICT r15 item 7) -----------------
  // tools/oracle_types.py binds every oracle SQL in REAL DuckDB and
  // records each result column's type kind (int/float/other) plus a
  // sha256 of the SQL; it hard-fails on HUGEINT. The two tests below +
  // the per-query kind check close the r15 red-row class in `sbt test`:
  //   - editing an oracle SQL fails the sha check until the tool
  //     regenerates the golden — which re-runs the HUGEINT audit;
  //   - a Spark-vs-DuckDB int/float kind divergence (fatal to the
  //     driver's strict hash even when values are numerically equal)
  //     fails the query's own smoke test.
  private lazy val goldenTypes: Map[String, (String, Map[String, String])] = {
    val src = scala.io.Source.fromFile(
      "src/test/resources/oracle_types.tsv", "UTF-8")
    try src.getLines().map { line =>
      val Array(name, sha, cols) = line.split("\t", 3)
      val kinds = cols.split(",").map { ck =>
        val i = ck.lastIndexOf(':')
        ck.substring(0, i) -> ck.substring(i + 1)
      }.toMap
      name -> (sha, kinds)
    }.toMap
    finally src.close()
  }

  // the pickle oracles read the parquet mirror by absolute path: it is
  // hashed as a fixed token (as tools/oracle_types.py does), so the golden
  // holds in any checkout
  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.replace(
        graft.operators.MwasPipelineQueries.mirrorDir.getAbsolutePath,
        "<mwaspkl_mirror>").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private def sparkKind(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType => "int"
      case FloatType | DoubleType => "float"
      case _ => "other"
    }
  }

  // the `__sql_only__` filter matches no query, so Verify skips every
  // dump but still writes oracle_sql.json — the cheap regen path
  private val regenHint =
    "regenerate: sbt 'runMain graft.Verify /root/testdata/sf0.001 " +
      "/tmp/vout __sql_only__' then python3 tools/oracle_types.py " +
      "/root/testdata/sf0.001 /tmp/vout/oracle_sql.json " +
      "src/test/resources/oracle_types.tsv"

  test("golden oracle-type registry covers every oracle and matches " +
      "the declared SQL") {
    val oracles = SparkEntry.oracleSql
    val missing = oracles.keySet -- goldenTypes.keySet
    assert(missing.isEmpty,
      s"oracles missing from oracle_types.tsv: $missing — $regenHint")
    val stale = goldenTypes.keySet -- oracles.keySet
    assert(stale.isEmpty,
      s"stale oracle_types.tsv entries: $stale — $regenHint")
    val drifted = oracles.collect {
      case (name, sql) if goldenTypes(name)._1 != sha256(sql) => name
    }
    assert(drifted.isEmpty,
      s"oracle SQL changed since the golden type audit: $drifted — " +
        s"$regenHint (the regen re-runs the HUGEINT check in real DuckDB)")
  }

  test("registry names are unique across all contributing files") {
    // SparkEntry.queries is a toMap over a hand-maintained concatenation;
    // a name collision would silently DROP a query from the driver
    // surface (last write wins) with every other test still green
    val names = SparkEntry.registryNames
    val dupes = names.groupBy(identity).collect {
      case (n, hits) if hits.size > 1 => n
    }
    assert(dupes.isEmpty, s"duplicate registry names: ${dupes.toSeq.sorted}")
  }

  test("every registry query is oracled or documented no-oracle") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((o -- q).isEmpty, s"oracle SQL without a query: ${o -- q}")
    val unoracled = q -- o -- noOracleByDesign
    assert(unoracled.isEmpty,
      s"queries with neither oracle SQL nor a documented waiver: $unoracled")
    assert((noOracleByDesign -- q).isEmpty,
      s"stale no-oracle waivers: ${noOracleByDesign -- q}")
    assert((noOracleByDesign & o).isEmpty,
      s"waived queries that now HAVE oracles (drop the waiver): " +
        s"${noOracleByDesign & o}")
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"registry $name builds and runs at sf0.001") {
      // limit(1).count() forces full analysis + at least one task; most
      // registry queries end in an orderBy/aggregate, so the limit does
      // not skip meaningful work at this SF
      val df = fn(spark, dir)
      df.limit(1).count() // any row count (incl. 0) is fine; throwing is not
      // kind parity vs the golden DuckDB oracle types: int-vs-float is
      // fatal to the driver's strict hash even when values are equal
      for ((_, kinds) <- goldenTypes.get(name);
           f <- df.schema.fields; gk <- kinds.get(f.name)) {
        val sk = sparkKind(f.dataType)
        assert(!(gk == "int" && sk == "float") &&
          !(gk == "float" && sk == "int"),
          s"$name.${f.name}: Spark $sk (${f.dataType.simpleString}) vs " +
            s"DuckDB oracle $gk — the driver's hash will mismatch; cast " +
            "one side (usually CAST ... AS BIGINT in the oracle)")
      }
    }
  }
}
