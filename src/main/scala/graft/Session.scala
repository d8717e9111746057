package graft

import org.apache.spark.sql.SparkSession

/** The engine's one SparkSession configuration — the mains that run
  * declared queries (Bench, Verify, PlanDump, Probe) and the test harness
  * all build through it, so the benched, oracle-checked and tested plans
  * come from the same settings.
  */
object Session {

  /** local[`cpus`] with as many shuffle partitions, UTC, nanosecond
    * timestamps read as longs, the graft extensions, no UI. The
    * session_window setting merges sessions inside each map partition
    * before the shuffle, so partial SESSIONS shuffle instead of raw
    * events (matters at 100 TB; measured ~15% at sf0.1 on q42).
    */
  def builder(cpus: String): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.sessionWindow.merge.sessions.in.local.partition", "true")
    .config("spark.sql.extensions", "graft.ext.GraftExtensions")
    .config("spark.ui.enabled", "false")

  /** A main's session: [[builder]], logging at WARN. */
  def apply(cpus: String): SparkSession = {
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
