package graft

import org.apache.spark.sql.SparkSession

/** The one local session every main starts: `local[N]` with N from
  * `SPARK_GRAFT_CPUS` (32 when unset) and as many shuffle partitions, UTC
  * session time, no UI, and the reader settings the testdata needs —
  * `events.parquet` has TIMESTAMP(NANOS), surfaced as long and converted
  * in-plan, and regenerated testdata writes TIMESTAMP_MICROS with
  * isAdjustedToUTC=0, which must keep reading as TimestampType so
  * unix_micros/withWatermark stay valid. `conf` adds or overrides
  * settings. */
object LocalSession {

  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  def apply(logLevel: String = "WARN",
            conf: Map[String, String] = Map.empty): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
    val spark = conf.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
