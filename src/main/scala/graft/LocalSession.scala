package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft `main` builds its Spark session. */
object LocalSession {
  /** Local mode on `cpus` cores with one shuffle partition per core, UTC
    * session time and no web UI. events.parquet carries TIMESTAMP(NANOS);
    * Spark has no nanos type, so such columns read as long
    * (ordering-equivalent; convert via `ts div 1000` when a query needs
    * real micros timestamps). */
  def apply(cpus: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
