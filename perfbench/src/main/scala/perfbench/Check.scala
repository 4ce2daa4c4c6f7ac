package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.security.MessageDigest

import scala.jdk.CollectionConverters._
import scala.util.Try

import com.fasterxml.jackson.databind.ObjectMapper

/** Output facts of one job or request, read back from what the program
  * wrote or returned. */
final case class Outcome(rows: Int, significant: Int, welch: Int, exact: Int,
    mc: Int, mcEarly: Int, negativeMeans: Int, digest: String)

/** The output check run after every job and request. A job that fails it
  * counts as failed and its time never enters a median. */
object Check {
  private val mapper = new ObjectMapper()

  /** A row: (bioproject, group, metadata_field, metadata_value, status). */
  private type Row = (String, String, String, String, String)

  def cliJob(outDir: File, n: Long, sig: Long, in: Inputs): Either[String, Outcome] = {
    val tree = new File(outDir, "per_bioproject")
    val perBp = Option(tree.listFiles()).toSeq.flatten.filter(_.isDirectory)
      .map { d =>
        d.getName.stripPrefix("bioproject=") -> csvFiles(d).map(f => lines(f).size - 1).sum
      }.toMap
    val cells = csvFiles(new File(outDir, "combined")).flatMap(lines(_).drop(1))
      .map(_.split(",", -1))
    val rows = cells.map(c => (c(0), c(1), c(2), c(3), c(4)))
    val expectTree = in.perBp.filter(_._2.contrasts > 0).map { case (k, v) => k -> v.contrasts }
    for {
      _ <- need(perBp == expectTree,
        s"per-bioproject rows ${perBp.toSeq.sorted.take(4)} != expected ${expectTree.toSeq.sorted.take(4)}")
      _ <- need(rows.size == n, s"combined has ${rows.size} rows, job returned $n")
      o <- outcome(rows, digest(cells.map(c => Stable.map(i => canon(c(i))).mkString(","))),
        cells.count(c => Seq(c(9), c(10)).exists(v => Try(v.toDouble < 0).getOrElse(false))))
      _ <- need(o.significant == sig, s"significant ${o.significant} != returned $sig")
      _ <- matches(o, in.total, in.planted, rows)
    } yield o
  }

  def response(body: String, bp: String, in: Inputs): Either[String, Outcome] = {
    val j = mapper.readTree(body)
    if (!j.has("results")) return Left(s"no results: ${body.take(300)}")
    val results = j.get("results").elements().asScala.toSeq
    val rows = results.map { r =>
      def f(k: String) = Option(r.get(k)).map(_.asText).getOrElse("")
      (f("bioproject"), f("group"), f("metadata_field"), f("metadata_value"), f("status"))
    }
    for {
      _ <- need(j.get("rows").asInt == rows.size, s"rows field != ${rows.size}")
      _ <- need(rows.forall(_._1 == bp), s"rows outside $bp")
      o <- outcome(rows, digest(results.map(r => Stable
        .map(i => canon(Option(r.get(Columns(i))).map(_.asText).getOrElse(""))).mkString(","))),
        results.count(r => Seq("mean_rpm_true", "mean_rpm_false")
          .exists(k => Option(r.get(k)).exists(_.asDouble < 0))))
      _ <- need(j.get("significant").asInt == o.significant, "significant field mismatch")
      _ <- matches(o, in.perBp(bp), in.planted.filter(_.bioproject == bp), rows)
    } yield o
  }

  private def matches(o: Outcome, e: BpExpect, planted: Seq[Planted],
      rows: Seq[Row]): Either[String, Unit] =
    for {
      _ <- need(o.rows == e.contrasts, s"${o.rows} contrasts, expected ${e.contrasts}")
      _ <- need(o.welch == e.welch && o.exact == e.exact && o.mc + o.mcEarly == e.mc,
        s"routes welch/exact/mc ${o.welch}/${o.exact}/${o.mc + o.mcEarly}, " +
          s"expected ${e.welch}/${e.exact}/${e.mc}")
      _ <- planted.foldLeft[Either[String, Unit]](Right(())) { (acc, p) =>
        acc.flatMap { _ =>
          val hits = rows.filter(r => r._1 == p.bioproject && r._2 == p.group &&
            r._3.split("; ").zip(r._4.split("; ")).contains((p.field, p.value)))
          need(hits.nonEmpty && hits.forall(_._5.contains("significant")),
            s"planted $p not significant: ${hits.map(_._5)}")
        }
      }
    } yield ()

  /** The program's 18 output columns, in order. */
  val Columns: IndexedSeq[String] = IndexedSeq("bioproject", "group",
    "metadata_field", "metadata_value", "status", "runtime_seconds",
    "memory_usage_bytes", "num_true", "num_false", "mean_rpm_true",
    "mean_rpm_false", "sd_rpm_true", "sd_rpm_false", "fold_change",
    "test_statistic", "p_value", "true_biosamples", "false_biosamples")

  /** Columns the digest covers: the contrast, its route and significance,
    * side sizes, statistic, p-value and listings. The means, sds and fold
    * change are left out: the program derives a side's sum by
    * subtraction (sum_all - sum_stored), so an all-zero side can read 0.0
    * in one job and -5e-16 (fold change -Infinity vs NaN) in the next,
    * depending on summation order. Those rows are counted instead
    * (`readout.negative_means`). */
  private val Stable: Seq[Int] = Seq(0, 1, 2, 3, 4, 7, 8, 14, 15, 16, 17)

  private def outcome(rows: Seq[Row], dig: String, negMeans: Int): Either[String, Outcome] = {
    var welch, exact, mc, early, sig = 0
    for (r <- rows) {
      val s = r._5
      if (s.startsWith("t_test")) welch += 1
      else if (s.contains("(permutation_exact)")) exact += 1
      else if (s.contains("(permutation_mc_early)")) early += 1
      else if (s.contains("(permutation_mc)")) mc += 1
      else return Left(s"unknown status '$s'")
      if (s.contains("significant")) sig += 1
    }
    Right(Outcome(rows.size, sig, welch, exact, mc, early, negMeans, dig))
  }

  private def need(ok: Boolean, msg: => String): Either[String, Unit] =
    if (ok) Right(()) else Left(msg)

  private def csvFiles(d: File): Seq[File] =
    Option(d.listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))

  private def lines(f: File): Seq[String] =
    Files.readAllLines(f.toPath, StandardCharsets.UTF_8).asScala.toSeq

  private val Decimal = "-?[0-9]*\\.[0-9]+([eE][-+]?[0-9]+)?|-?[0-9]+[eE][-+]?[0-9]+".r

  /** A decimal to 6 significant digits, magnitudes below 1e-12 as 0: the
    * same test may add its doubles in another order from job to job,
    * which moves only the last bits. */
  def canon(field: String): String = field match {
    case Decimal(_*) =>
      val v = field.toDouble
      if (math.abs(v) < 1e-12) "0"
      else String.format(java.util.Locale.ROOT, "%.6g", Double.box(v))
    case _ => field
  }

  /** Order-free content digest. */
  def digest(items: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    items.sorted.foreach(s => md.update((s + "\n").getBytes(StandardCharsets.UTF_8)))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Files and bytes under a directory tree. */
  def tree(d: File): (Int, Long) = {
    val fs = Files.walk(d.toPath).iterator().asScala.map(_.toFile)
      .filter(f => f.isFile && f.getName.startsWith("part-")).toSeq
    (fs.size, fs.map(_.length).sum)
  }
}
