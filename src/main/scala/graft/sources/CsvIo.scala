package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** CSV sources/sinks — SURVEY §2.2 S1 (user input, positional schema),
  * S2 (dynamic-width metadata, schema-on-read), S7/S8 (CSV sinks).
  *
  * The reference reads the user's 3-column CSV positionally, renames to
  * canonical names, and validates dtypes (main/mwas_general.py:744-759);
  * metadata CSVs have per-file dynamic schemas read with inference
  * (main/converter_.py:33).
  */
object CsvIo {

  /** S1+S12: the user-input contract, TOTAL — columns taken POSITIONALLY
    * (whatever their header says), renamed, and every row kept with a
    * `reject_reason` (null = valid). The reference prints conversion
    * errors to a side file and exits on bad dtypes
    * (main/converter_.py:60-64, main/mwas_general.py:744-759); here the
    * rejects are a relation a caller can count, sample, or sink via
    * [[writeRejectsReport]]. */
  def readUserInputRouted(s: SparkSession, path: String): DataFrame = {
    val raw = s.read.option("header", "true").csv(path)
    require(raw.columns.length >= 3,
      s"user input needs 3 columns, got ${raw.columns.length}")
    val Array(c1, c2, c3) = raw.columns.take(3)
    raw.select(
      col(c1).cast(StringType).as("run"),
      col(c2).cast(StringType).as("group"),
      col(c3).cast(StringType).as("quantifier_raw"))
      // try_cast, not cast: ANSI mode (Spark 4 default) makes a plain
      // cast THROW on the malformed rows this reader exists to route
      .withColumn("quantifier", col("quantifier_raw").try_cast(DoubleType))
      .withColumn("reject_reason",
        when(col("quantifier_raw").isNull, "missing_quantifier")
          .when(col("quantifier").isNull, "non_numeric_quantifier"))
  }

  /** S1 valid slice (what the pipeline consumes). */
  def readUserInput(s: SparkSession, path: String): DataFrame =
    readUserInputRouted(s, path)
      .filter(col("reject_reason").isNull)
      .select(col("run"), col("group"), col("quantifier"))

  /** S12: the rejected-rows report sink. */
  def writeRejectsReport(routed: DataFrame, path: String): Unit =
    writeCsv(routed.filter(col("reject_reason").isNotNull)
      .select(col("run"), col("group"), col("quantifier_raw"),
        col("reject_reason")), path)

  /** S2: dynamic-width metadata CSV, schema-on-read.
    *
    * `multiLine` is ON: metadata cells legitimately contain quoted
    * newlines (the reference's paragraph columns —
    * main/tests/metadata_set_maker_tests/test_files/TEST_PARAGRAPH--*.csv
    * exists to cover exactly that), and without it Spark shears such a
    * row at the embedded newline into two broken rows that pandas parses
    * correctly. Cost: a multiLine CSV file is read as ONE split (no
    * intra-file parallelism) — acceptable because per-FILE parallelism is
    * this source's scale unit anyway (one modest CSV per bioproject,
    * many thousands of files; the reference sharded per file too,
    * main/converter.sh:74). */
  def readMetadataCsv(s: SparkSession, path: String): DataFrame =
    s.read.option("header", "true").option("inferSchema", "true")
      .option("multiLine", "true").csv(path)

  /** S7/S8: header'd CSV sink (the reference accumulates strings and
    * appends files; one declarative write replaces both). */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)
}
