package graft

import org.apache.spark.sql.SparkSession

/** The one local session shape every main (and the test session) runs:
  * `local[cpus]` with `cpus` shuffle partitions, UTC, no UI. A `spark.*`
  * JVM system property (`-Dspark.graft.substr.hotWindowCap=64` through
  * `JAVA_TOOL_OPTIONS` or `run / javaOptions`) reaches the session through
  * `SparkSession.builder()`, so conf-keyed paths need no knob of their own.
  * `LakeCatalog.session` keeps its own Hive-backed builder. */
private[graft] object LocalSession {

  /** `$SPARK_GRAFT_CPUS`, or `default` when unset. */
  def cpus(default: String = "4"): String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", default)

  def apply(cpus: String, logLevel: String = "WARN"): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.ts encoding has varied across testdata rounds:
      // TIMESTAMP(NANOS) (refused by Spark 4 unless read as LONG via this
      // flag) or TIMESTAMP(MICROS) (read as a timestamp type and converted
      // to the same nanos LONG at the scan — Ops.normalizeEventTs). The flag
      // lands BOTH encodings on the catalog's LONG contract.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }
}
