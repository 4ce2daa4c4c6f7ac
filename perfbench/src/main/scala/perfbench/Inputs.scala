package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** What the generator knows about one bioproject's output by
  * construction: the contrast rows and the test route of each. */
final case class BpExpect(contrasts: Int, welch: Int, exact: Int, mc: Int) {
  def +(o: BpExpect): BpExpect =
    BpExpect(contrasts + o.contrasts, welch + o.welch, exact + o.exact, mc + o.mc)
}

/** A contrast whose true side got a planted effect; it must come out
  * `significant`. */
final case class Planted(bioproject: String, group: String, field: String,
    value: String)

/** The generated files of one run (gen.py) and their expectations. */
final case class Inputs(
    catalog: String,
    input: String,
    metadataLong: String,
    setsPath: String,
    perBp: Map[String, BpExpect],
    planted: Seq[Planted],
    bodies: Map[String, String],
    permSides: Seq[(Int, Int)],
    validRows: Long,
    rejectedRows: Long,
    sets: Long) {
  def total: BpExpect = perBp.values.foldLeft(BpExpect(0, 0, 0, 0))(_ + _)
}

object Inputs {
  def load(dir: File): Inputs = {
    val m = new ObjectMapper()
    def read(name: String) = m.readTree(new String(
      Files.readAllBytes(new File(dir, name).toPath), StandardCharsets.UTF_8))
    val e = read("expect.json")
    val bodies = read("bodies.json")
    Inputs(
      catalog = new File(dir, "catalog.parquet").getPath,
      input = new File(dir, "input.csv").getPath,
      metadataLong = new File(dir, "metadata_long.parquet").getPath,
      setsPath = new File(dir, "sets.parquet").getPath,
      perBp = e.get("per_bp").properties().asScala.map { f =>
        val v = f.getValue
        f.getKey -> BpExpect(v.get("contrasts").asInt, v.get("welch").asInt,
          v.get("exact").asInt, v.get("mc").asInt)
      }.toMap,
      planted = e.get("planted").elements().asScala.map { p =>
        Planted(p.get(0).asText, p.get(1).asText, p.get(2).asText, p.get(3).asText)
      }.toSeq,
      bodies = bodies.properties().asScala.map(f => f.getKey -> f.getValue.asText).toMap,
      permSides = e.get("perm_sides").elements().asScala
        .map(p => (p.get(0).asInt, p.get(1).asInt)).toSeq,
      validRows = e.get("valid_rows").asLong,
      rejectedRows = e.get("rejected_rows").asLong,
      sets = e.get("sets").asLong)
  }
}
