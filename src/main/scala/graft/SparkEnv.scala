package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession defaults for the engine.
  *
  * Scale notes (targets a 1000-executor cluster even though tests run
  * `local[4]`):
  *  - AQE on: runtime coalescing of shuffle partitions + skew-join
  *    splitting, so the same plan survives a 100× scale-up.
  *  - UTC session timezone: oracle parity (DuckDB is TZ-naive).
  *  - `nanosAsLong`: the harness `events` table carries
  *    TIMESTAMP(NANOS) parquet which Spark has no native type for; we
  *    land it as Long and convert with integer µs truncation (same
  *    truncation DuckDB applies).
  */
object SparkEnv {
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // The harness timestamps are parquet µs with isAdjustedToUTC=false;
      // without this they'd infer as TIMESTAMP_NTZ and every
      // unix_micros/window call would type-mismatch. Reading them as
      // LTZ in the UTC session gives the same instants DuckDB sees.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")

  /** The session the dev mains (`Bench`, `Verify`, `Explain`) run on:
    * `builder(local[n], n)`, where `n` is `SPARK_GRAFT_CPUS` or, when
    * that is unset, the JVM's available processors. */
  def local(): SparkSession.Builder = {
    val n = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    builder(s"local[$n]", n)
  }
}
