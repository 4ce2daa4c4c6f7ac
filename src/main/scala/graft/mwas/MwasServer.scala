package graft.mwas

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, struct, to_json}
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}

/** S11 completion — the reference's remote entry point
  * (main/server.py:25-45: `POST /run_mwas`, JSON array of row objects in
  * the body, repeated `?flag=` query params) as a ~100-line shim over the
  * engine. The engine stays untouched: the handler parses the body with
  * Spark's JSON reader, calls [[Pipeline.run]], and returns the 18-column
  * result as JSON rows (the reference wrote a temp CSV and returned only
  * an exit-code message; returning the relation itself is the same surface
  * minus the side channel).
  *
  * Scale note: the request body is a user's run list (thousands of rows at
  * most — the reference materialized it as a temp csv too); the
  * catalog/sets relations behind the endpoint are full-scale DataFrames
  * configured once at server start.
  */
object MwasServer {

  private val inputSchema = StructType(Seq(
    StructField("run", StringType), StructField("group", StringType),
    StructField("quantifier", DoubleType)))

  /** Start serving. `port` 0 picks an ephemeral port (tests); the bound
    * server is returned so callers own the lifecycle. */
  def start(spark: SparkSession, catalog: DataFrame, sets: DataFrame,
      port: Int): HttpServer = {
    val server = HttpServer.create(new InetSocketAddress(port), 0)
    server.createContext("/run_mwas", (ex: HttpExchange) => handle(ex))

    def handle(ex: HttpExchange): Unit =
      try {
        if (ex.getRequestMethod != "POST") { respond(ex, 405,
          """{"error":"POST required"}""" ); return }
        val body = new String(ex.getRequestBody.readAllBytes(),
          StandardCharsets.UTF_8)
        val flags = Option(ex.getRequestURI.getRawQuery).toSeq
          .flatMap(_.split("&").toSeq)
          .collect { case kv if kv.startsWith("flag=") =>
            java.net.URLDecoder.decode(kv.stripPrefix("flag="), "UTF-8") }
          .toSet
        val cfg = try MwasIntake.flagsToConfig(flags) catch {
          case e: NumberFormatException =>
            respond(ex, 400, s"""{"error":${jsonStr(e.toString)}}"""); return
        }

        import spark.implicits._
        // FAILFAST: a malformed body must be a 400, not a silent
        // zero-row 200 that reads as "no significant results"
        val input = spark.read.schema(inputSchema)
          .option("mode", "FAILFAST")
          .json(Seq(body).toDS())
          .filter(col("run").isNotNull)
        val out = Pipeline.run(input, catalog, sets, cfg)
        // a request's result set is one row per (group × set) contrast —
        // bounded and small; ONE action collects both the JSON rows and
        // the status column (grepping the serialized row would count
        // user metadata that merely contains the word "significant")
        val collected = out.select(
          to_json(struct(out.columns.map(col): _*)).as("j"),
          col("status")).collect()
        val rows = collected.map(_.getString(0))
        val sig = collected.count(_.getString(1).contains("significant"))
        respond(ex, 200,
          s"""{"rows":${rows.length},"significant":$sig,""" +
            s""""results":${rows.mkString("[", ",", "]")}}""")
      } catch {
        case e: Throwable =>
          respond(ex, if (badBody(e)) 400 else 500,
            s"""{"error":${jsonStr(e.toString)}}""")
      }

    server.start()
    server
  }

  /** The request's own fault: its body failed FAILFAST parsing — not
    * JSON, or a field of the wrong type such as a non-numeric quantifier.
    * The parse runs inside the request's job, so the failure is told from
    * an engine failure by its cause chain, at no extra job. */
  private def badBody(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists {
      case t: SparkThrowable =>
        Option(t.getCondition).exists(_.startsWith("MALFORMED_RECORD_IN_PARSING"))
      case _ => false
    }

  private def jsonStr(s: String): String = graft.core.JsonUtil.escape(s)

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** `MwasServer <catalog.parquet> <metadata.parquet> [port]` — the
    * standing-server analogue of [[MwasCli]]; metadata is condensed on the
    * fly when given in long form, like the CLI. */
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: MwasServer <catalog.parquet> <metadata> [port]")
    val port = if (args.length > 2) args(2).toInt else 8080
    val spark = MwasIntake.session("mwas-server")
    val catalog = spark.read.parquet(args(0))
    val sets = MwasIntake.toSets(spark.read.parquet(args(1)))
    val server = start(spark, catalog, sets, port)
    println(s"[mwas-server] listening on ${server.getAddress}")
    Thread.currentThread.join()
  }
}
