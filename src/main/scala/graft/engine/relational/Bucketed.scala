package graft.engine.relational

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** Sort-merge-bucket (SMB) joins: co-bucketed tables joined with ZERO
  * shuffle on either side.
  *
  * A fact–fact equi-join normally shuffles BOTH inputs on the join key —
  * at 100 TB that exchange dominates the job. Bucketing pays the shuffle
  * ONCE at write time: each table's rows land in `pmod(hash(key), n)`
  * bucket files, the layout is recorded in the catalog, and every later
  * join on the bucket key reads both sides already co-partitioned —
  * Spark's `EnsureRequirements` sees matching `HashPartitioning` on the
  * scans and inserts no exchange. Recurring joins against the same
  * key (the dimension-refresh / fact-append pattern) amortize the one-off
  * write into shuffle-free steady state. Same discipline as the
  * q91 banded-signature table (`Dedup.publishBandedSignatures`) and the
  * `SnapshotStore` `_bucket` layout — this module is the general
  * relational form.
  *
  * Both sides must be bucketed on the SAME column names with the SAME
  * bucket count ([[smbJoin]] validates against the catalog and refuses
  * otherwise — a silently-degraded join that re-shuffles one side would
  * defeat the layout's whole point). Rename join keys to a shared name
  * before publishing.
  */
object Bucketed {

  /** Publish `df` as a managed bucketed table, bucket-sorted for cheap
    * downstream merges. Overwrites any previous layout of the name.
    *
    * The pre-write `repartition(nBuckets, keys)` IS the pay-once shuffle
    * this module's contract advertises, made explicit: `repartition`'s
    * `HashPartitioning.partitionIdExpression` is the SAME
    * `pmod(murmur3(keys), n)` the bucketed write assigns bucket ids
    * with, so each write task receives exactly one bucket's rows.
    * Without it the write runs at the INPUT's partitioning — width = the
    * scan's partition count (3 tasks for a one-row-group harness table,
    * starving the cores; thousands at production scale) and every task
    * writes a file into every bucket it touches, i.e. up to
    * inputPartitions × nBuckets small files (guide §6). Aligned, the
    * layout is exactly one file per non-empty bucket at full
    * write-parallelism up to nBuckets — BucketedSpec pins the
    * one-file-per-bucket invariant. Unlike `SnapshotStore.writeBuckets`
    * (capped at the shuffle width), this must keep
    * `repartition(nBuckets, keys)`: `bucketBy` needs partition i = bucket i. */
  def publishTable(df: DataFrame, table: String, nBuckets: Int,
      keyCols: Seq[String]): Unit = {
    require(keyCols.nonEmpty, "at least one bucket column")
    require(nBuckets > 0, "nBuckets must be positive")
    import org.apache.spark.sql.functions.col
    df.repartition(nBuckets, keyCols.map(col): _*)
      .write.mode(SaveMode.Overwrite)
      .bucketBy(nBuckets, keyCols.head, keyCols.tail: _*)
      .sortBy(keyCols.head, keyCols.tail: _*)
      .saveAsTable(table)
  }

  /** Join two co-bucketed tables on their shared bucket-key columns. The
    * `merge` hint pins sort-merge (a broadcast pick on small testdata
    * would hide the layout contract this operator exists to demonstrate);
    * with both scans reporting the same `HashPartitioning`, the SMJ gets
    * no exchange on either side — [[shuffleCount]] == 0, which
    * BucketedSpec and q98's contract boolean assert. */
  def smbJoin(spark: SparkSession, leftTable: String, rightTable: String,
      keys: Seq[String], joinType: String = "inner"): DataFrame = {
    val ls = bucketSpecOf(spark, leftTable)
    val rs = bucketSpecOf(spark, rightTable)
    require(ls.numBuckets == rs.numBuckets,
      s"bucket counts differ: $leftTable=${ls.numBuckets}, " +
        s"$rightTable=${rs.numBuckets} — the join would re-shuffle")
    for ((t, s) <- Seq(leftTable -> ls, rightTable -> rs))
      require(s.bucketColumnNames == keys,
        s"$t is bucketed on ${s.bucketColumnNames.mkString(",")}, " +
          s"join keys are ${keys.mkString(",")} — co-location does not apply")
    spark.table(leftTable).hint("merge")
      .join(spark.table(rightTable), keys, joinType)
  }

  private def bucketSpecOf(spark: SparkSession, table: String): BucketSpec =
    spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(table)).bucketSpec
      .getOrElse(throw new IllegalArgumentException(
        s"$table is not bucketed — publish it with Bucketed.publishTable"))

  /** Shuffle exchanges in the (AQE-expanded) executed plan — the
    * contract observable: 0 for a genuinely co-located join. */
  def shuffleCount(df: DataFrame): Int =
    flatten(df.queryExecution.executedPlan)
      .count(_.isInstanceOf[ShuffleExchangeLike])

  private def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: flatten(a.executedPlan)
    case q: QueryStageExec => q +: flatten(q.plan)
    case _ => p +: p.children.flatMap(flatten)
  }
}
