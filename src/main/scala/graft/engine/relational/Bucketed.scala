package graft.engine.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import graft.engine.sources.SnapshotStore

/** Sort-merge-bucket (SMB) joins: co-bucketed stores joined with ZERO
  * shuffle on either side.
  *
  * A fact–fact equi-join normally shuffles BOTH inputs on the join key —
  * at 100 TB that exchange dominates the job. Bucketing pays the shuffle
  * ONCE at write time: [[SnapshotStore.publishBucketed]] lands each
  * store's rows in `pmod(hash(key), n)` buckets, each version records
  * its (key, n) spec beside its manifest, and every later join on the
  * bucket key reads both sides already co-partitioned — the store scan
  * reports Spark's `HashPartitioning` for that spec, so
  * `EnsureRequirements` inserts no exchange. Recurring joins against the
  * same key (the dimension-refresh / fact-append pattern) amortize the
  * one-off write into shuffle-free steady state. Same layout as the
  * published band, n-gram and boilerplate stores
  * (`Dedup.publishBandedSignatures` and its siblings) — this module is
  * the general relational form.
  *
  * Both sides must be bucketed on the SAME column names with the SAME
  * bucket count ([[smbJoin]] validates against each store's current
  * spec and refuses otherwise — a silently-degraded join that
  * re-shuffles one side would defeat the layout's whole point). Rename
  * join keys to a shared name before publishing.
  */
object Bucketed {

  /** Join the current versions of two co-bucketed stores on their shared
    * bucket-key columns. The `merge` hint pins sort-merge (a broadcast
    * pick on small testdata would hide the layout contract this operator
    * exists to demonstrate); with both scans reporting the same
    * `HashPartitioning`, the SMJ gets no exchange on either side —
    * [[shuffleCount]] == 0, which BucketedSpec and q98's contract
    * boolean assert. The layout column `_bucket` is dropped from both. */
  def smbJoin(spark: SparkSession, leftRoot: String, rightRoot: String,
      keys: Seq[String], joinType: String = "inner"): DataFrame = {
    def specOf(root: String) =
      SnapshotStore.bucketSpecAt(root, SnapshotStore.currentVersion(root))
        .getOrElse(throw new IllegalArgumentException(s"$root is not " +
          "bucketed — publish it with SnapshotStore.publishBucketed"))
    val (lk, ln) = specOf(leftRoot)
    val (rk, rn) = specOf(rightRoot)
    require(ln == rn, s"bucket counts differ: $leftRoot=$ln, " +
      s"$rightRoot=$rn — the join would re-shuffle")
    for ((root, k) <- Seq(leftRoot -> lk, rightRoot -> rk))
      require(SnapshotStore.bucketKeyCols(k) == keys,
        s"$root is bucketed on $k, join keys are ${keys.mkString(",")} — " +
          "co-location does not apply")
    SnapshotStore.read(spark, leftRoot).drop("_bucket").hint("merge")
      .join(SnapshotStore.read(spark, rightRoot).drop("_bucket"), keys,
        joinType)
  }

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
