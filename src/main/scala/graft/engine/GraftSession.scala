package graft.engine

import org.apache.spark.sql.SparkSession

/** The ONE SparkSession recipe every entrypoint shares — the driver
  * surfaces (Verify, Bench, ProfileQuery, ScaleRehearsal) via [[build]]
  * and the CLI jobs via [[create]] — so row counts and timings are
  * comparable across all of them. Consolidated here in r20 (VERDICT r19:
  * two near-identical factories meant a future conf change could fork
  * the settings).
  *
  * The load-bearing setting is the UTC session timezone: event-time
  * window queries over the events table bucket rows per the SESSION
  * timezone, so a tool session that omits it returns different row
  * counts than the driver run for the same query at the same SF —
  * poisoning any bisection that compares the two (the r4 post-mortem
  * measured x52 at 725 vs 3385 rows from exactly this). The other
  * invariants: shuffle partitions sized to local cores (not the 200
  * default — SURVEY.md §4), AQE on, nanos-as-long for the events
  * table's TIMESTAMP(NANOS) parquet (see Tables.events).
  */
object GraftSession {

  /** The shared conf block — exists exactly once so the session
    * invariants cannot fork between the driver surfaces and the jobs. */
  private def configured(b: SparkSession.Builder,
      cpus: String): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  /** Driver-surface session: fixed local parallelism, caller-chosen. */
  def build(cpus: String): SparkSession = {
    // reclaim dead sessions' published artifacts (warehouse tables, tmp
    // stores) before this one starts adding its own
    Artifacts.gcDeadSessions()
    configured(SparkSession.builder().master(s"local[$cpus]"), cpus)
      .getOrCreate()
  }

  /** CLI-job session: same conf block, plus an app name and the
    * launcher-override hooks. On a real cluster master/parallelism come
    * from spark-submit conf instead; `getOrCreate` respects whatever the
    * launcher set. */
  def create(appName: String): SparkSession = {
    Artifacts.gcDeadSessions()
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = configured(
      SparkSession.builder()
        .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
        .appName(appName),
      cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
