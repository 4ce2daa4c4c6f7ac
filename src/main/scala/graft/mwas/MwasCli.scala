package graft.mwas

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, count_if, lit}

import graft.sources.CsvIo
import graft.streaming.StreamingQueries

/** CLI entry point — the swap-in for `python mwas_general.py input.csv`
  * (reference main/mwas_general.py:703-793).
  *
  * Usage:
  *   MwasCli <input.csv> <catalog.parquet> <metadata> <outDir> [flags]
  *
  *   input.csv         3 columns, positional: run, group, quantifier
  *   catalog.parquet   (bio_project, bio_sample, run, spots) — the srarun
  *                     export (or point fromJdbc at a live database)
  *   metadata          EITHER a parquet of condensed sets (condenser
  *                     output schema) OR a parquet of the long relation
  *                     (bioproject, biosample_id, attribute, value) —
  *                     detected by schema, condensed on the fly if long
  *   outDir            gets per-bioproject CSV tree + combined CSV
  *
  * Flags (reference main/mwas_general.py:713-741):
  *   --only-t-test           ONLY_T_TEST
  *   --already-normalized    ALREADY_NORMALIZED
  *   --p-threshold=X         P_VALUE_THRESHOLD (default 0.005)
  *   --no-combined           skip the combined single-file write
  */
object MwasCli {
  def main(args: Array[String]): Unit = {
    val spark = MwasIntake.session("mwas")
    try run(spark, args) finally spark.stop()
  }

  /** The whole CLI minus session lifecycle — callable from tests (and any
    * host that already owns a session). Returns (tests, significant). */
  def run(spark: SparkSession, args: Array[String]): (Long, Long) = {
    require(args.length >= 4,
      "usage: MwasCli <input.csv> <catalog.parquet> <metadata> <outDir> [flags]")
    val Array(inputCsv, catalogPath, metadataPath, outDir) = args.take(4)
    val flags = args.drop(4).toSet
    val cfg = MwasIntake.flagsToConfig(flags)

    val input = CsvIo.readUserInput(spark, inputCsv)
    val catalog = spark.read.parquet(catalogPath)
    val sets = MwasIntake.toSets(spark.read.parquet(metadataPath))

    // the result is materialized ONCE, as rows, for both writes. Durability:
    // a local checkpoint lives in the executors' block managers (in local
    // mode, the driver's), so losing one means rerunning the job from its
    // inputs, which it never writes to
    val out = Pipeline.run(input, catalog, sets, cfg).localCheckpoint()
    val counts = Observation("mwas_counts") // observed on the first write
    try {
      Pipeline.writePerBioproject(out.observe(counts, count(lit(1)).as("n"),
        count_if(col("status").contains("significant")).as("sig")),
        s"$outDir/per_bioproject")
      if (!flags.contains("--no-combined")) {
        Pipeline.writeCombined(out, s"$outDir/combined")
      }
    } finally StreamingQueries.releaseCheckpoint(out)
    val (n, sig) = (counts.get("n").asInstanceOf[Long],
      counts.get("sig").asInstanceOf[Long])
    println(s"[mwas] $n tests written to $outDir ($sig significant)")
    (n, sig)
  }
}
