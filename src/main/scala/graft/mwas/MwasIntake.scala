package graft.mwas

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.etl.MetadataCondenser

/** Shared intake for the two entry points (CLI and HTTP server): flag →
  * config mapping and metadata → condensed-sets detection, in one copy so
  * the flag surface cannot drift between them. */
object MwasIntake {

  /** The entry points' session: `SPARK_MASTER` (default
    * `local[SPARK_GRAFT_CPUS]`, 4 cores when unset), shuffle width
    * `SPARK_GRAFT_CPUS`, UTC session time zone, WARN logging. */
  def session(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .appName(appName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Reference flag surface (main/mwas_general.py:713-741) to
    * [[MwasConfig]]. Entry-point-local flags (e.g. --no-combined) are
    * read by the callers; unknown flags are ignored like the reference. */
  def flagsToConfig(flags: Iterable[String]): MwasConfig = {
    val set = flags.toSet
    MwasConfig(
      pValueThreshold = set.collectFirst {
        case f if f.startsWith("--p-threshold=") =>
          f.stripPrefix("--p-threshold=").toDouble
      }.getOrElse(0.005),
      onlyTTest = set.contains("--only-t-test"),
      alreadyNormalized = set.contains("--already-normalized"))
  }

  /** Metadata intake: pre-condensed sets pass through (older exports
    * lacking the set_id get it from [[MetadataCondenser.setId]]);
    * long-form metadata is condensed on the fly. */
  def toSets(metadata: DataFrame): DataFrame =
    if (metadata.columns.contains("members")) {
      if (metadata.columns.contains("set_id")) metadata
      else metadata.withColumn("set_id", MetadataCondenser.setId)
    } else MetadataCondenser.condense(metadata)
}
