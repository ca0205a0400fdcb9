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
    * invariants cannot fork between the driver surfaces, the jobs and the
    * test session (which adds only its own app name and a throwaway
    * warehouse dir for specs of Spark's own catalog tables).
    *
    * Two invariants size Spark's per-query fixed costs to this engine's
    * working set:
    *  - `spark.sql.codegen.cache.maxEntries` = 4096: the LRU of compiled
    *    generated classes. Spark's 100-entry default is smaller than one
    *    pass of the curation funnel, so each class was evicted before its
    *    reuse: every repeated 3 000-doc curate pass recompiled ~216
    *    classes and every store cycle ~35. A whole run holds 232
    *    distinct classes for curate, 162 for store and 3 618 for a
    *    191-query `graft.Bench` at sf0.1; 4096 holds the largest of
    *    them, so a repeated curate pass compiles none and a store cycle
    *    ~15.
    *  - `spark.sql.adaptive.coalescePartitions.minPartitionSize` = 64k:
    *    AQE never coalesces a shuffle into partitions smaller than this
    *    (under Spark's default `parallelismFirst` it is this floor, not
    *    the 64 MB advisory size, that bounds coalescing). At the 1 MB
    *    default AQE folded corpusFilter's 870 KB shuffle into ONE task
    *    for its CPU-bound text scoring on a 4-core host; at 64 KB sub-MB
    *    CPU-bound text stages keep the `local[N]` cores, while tiny
    *    shuffles still coalesce. */
  private[graft] def configured(b: SparkSession.Builder,
      cpus: String): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  /** Runs `body` with the session conf `settings` applied, then puts
    * each key back as it was: a key that was unset is unset again, not
    * pinned to its default. The restore runs also when `body` throws, so
    * a failed query never leaves the shared session re-dialed for every
    * later one. */
  def withConf[T](spark: SparkSession, settings: (String, String)*)(
      body: => T): T = {
    val set = spark.conf.getAll
    val prev = settings.map { case (k, _) => k -> set.get(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Driver-surface session: fixed local parallelism, caller-chosen. */
  def build(cpus: String): SparkSession = {
    // reclaim dead sessions' published artifacts (tmp stores) before
    // this one starts adding its own
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
