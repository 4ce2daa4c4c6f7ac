package graft.mwas

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** E2e over the wire: POST a tiny run list to /run_mwas and assert the
  * 18-column contrast comes back, including flag routing. */
class MwasServerSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("mwas-server-spec")
    .getOrCreate()

  private def post(url: String, body: String): (Int, String) = {
    val conn = URI.create(url).toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    conn.getOutputStream.write(body.getBytes(StandardCharsets.UTF_8))
    val code = conn.getResponseCode
    val is = if (code < 400) conn.getInputStream else conn.getErrorStream
    (code, new String(is.readAllBytes(), StandardCharsets.UTF_8))
  }

  test("POST /run_mwas returns the 18-column relation; flags route") {
    import spark.implicits._
    val catalog = (1 to 6)
      .map(i => (s"R$i", s"BS$i", "bp1", 1000000.0))
      .toDF("run", "bio_sample", "bio_project", "spots")
    val sets = Seq(("bp1", "tissue", "liver", Seq("BS1", "BS2", "BS3"),
        3, true, 6, 42L))
      .toDF("bioproject", "attributes", "values", "members", "n_stored",
        "include", "n_biosamples", "set_id")
    val server = MwasServer.start(spark, catalog, sets, port = 0)
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}/run_mwas"
      val body = (1 to 6)
        .map(i => s"""{"run":"R$i","group":"g1","quantifier":$i.0}""")
        .mkString("[", ",", "]")

      val (code, resp) = post(base, body)
      assert(code === 200, resp)
      assert(resp.contains(""""rows":1"""))
      // all 18 reference output columns present in the returned row
      Seq("bioproject", "group", "metadata_field", "metadata_value",
        "status", "runtime_seconds", "memory_usage_bytes", "num_true",
        "num_false", "mean_rpm_true", "mean_rpm_false", "sd_rpm_true",
        "sd_rpm_false", "fold_change", "test_statistic", "p_value",
        "true_biosamples", "false_biosamples")
        .foreach(c => assert(resp.contains("\"" + c + "\""), s"missing $c"))
      assert(resp.contains(""""status":"t_test"""))

      // flag plumbed through: a loose p threshold flips significance
      val (c2, r2) = post(base + "?flag=--p-threshold%3D0.99", body)
      assert(c2 === 200, r2)
      assert(r2.contains("significant"))
      assert(r2.contains(""""significant":1"""))

      // malformed body is a clean 400 (FAILFAST parse), never a silent
      // zero-row 200
      val (c3, r3) = post(base, "not json")
      assert(c3 === 400, s"$c3 $r3")
      assert(r3.contains("error"), r3)
    } finally server.stop(0)
  }

  test("a client error answers 400; an engine failure answers 500") {
    import spark.implicits._
    val catalog = (1 to 6)
      .map(i => (s"R$i", s"BS$i", "bp1", 1000000.0))
      .toDF("run", "bio_sample", "bio_project", "spots")
    val sets = Seq(("bp1", "tissue", "liver", Seq("BS1", "BS2", "BS3"),
        3, true, 6, 42L))
      .toDF("bioproject", "attributes", "values", "members", "n_stored",
        "include", "n_biosamples", "set_id")
    val body = (1 to 6)
      .map(i => s"""{"run":"R$i","group":"g1","quantifier":$i.0}""")
      .mkString("[", ",", "]")
    // the engine fails on a catalog without spots, whatever the request
    val servers = Seq(catalog, catalog.drop("spots"))
      .map(MwasServer.start(spark, _, sets, port = 0))
    try {
      val Seq(good, broken) = servers.map(s =>
        s"http://127.0.0.1:${s.getAddress.getPort}/run_mwas")
      val nonNumeric = body.replace("\"quantifier\":3.0",
        "\"quantifier\":\"three\"")
      for ((what, url, b) <- Seq(
          ("non-numeric quantifier", good, nonNumeric),
          ("truncated body", good, body.dropRight(2)),
          ("non-numeric flag", good + "?flag=--p-threshold%3Dlow", body))) {
        val (code, resp) = post(url, b)
        assert(code === 400, s"$what: $code $resp")
        assert(resp.contains("error"), s"$what: $resp")
      }
      val (code, resp) = post(broken, body)
      assert(code === 500, s"$code $resp")
      // a valid request still answers 200 after the client errors
      assert(post(good, body)._1 === 200)
    } finally servers.foreach(_.stop(0))
  }
}
