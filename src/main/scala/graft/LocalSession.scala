package graft

import org.apache.spark.sql.SparkSession

/** The one definition of graft's local session config, shared by the
  * dev and CLI mains (Probe, Verify, PlanAudit, SchemaReport,
  * `Pipeline.main`) and the test suite. Callers add their own extras
  * (log level, app name, warehouse dir) on the returned builder.
  * [[Bench]] and [[SparkEntry]] spell their config out literally
  * because it is the driver's contract; EntrySmoke deliberately runs a
  * plain session.
  *
  * `nanosAsLong`: the events.ts vintage varies (TIMESTAMP(NANOS) or
  * MICROS/NTZ); the flag lets the nanos vintage load, and
  * `Tables.events` normalizes either to the engine's ns-Long contract. */
object LocalSession {
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
}
