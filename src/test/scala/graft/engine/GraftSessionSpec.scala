package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession.spark

/** [[GraftSession.withConf]] puts every key back as it was: a set key
  * to its value, an unset key to unset (not to its default), also when
  * the body throws. */
class GraftSessionSpec extends AnyFunSuite {

  private val parts = "spark.sql.shuffle.partitions"
  private val noData = "spark.sql.streaming.noDataMicroBatches.enabled"

  test("withConf restores a set key and unsets an unset one") {
    val before = spark.conf.get(parts)
    spark.conf.unset(noData)
    val seen = GraftSession.withConf(spark, parts -> "3", noData -> "false") {
      (spark.conf.get(parts), spark.conf.get(noData))
    }
    assert(seen == (("3", "false")))
    assert(spark.conf.get(parts) == before)
    assert(!spark.conf.getAll.contains(noData),
      s"$noData must be unset again, not pinned to its default")
  }

  test("withConf restores the conf when the body throws") {
    val before = spark.conf.get(parts)
    spark.conf.unset(noData)
    intercept[IllegalStateException] {
      GraftSession.withConf(spark, parts -> "3", noData -> "false") {
        throw new IllegalStateException("body failed")
      }
    }
    assert(spark.conf.get(parts) == before)
    assert(!spark.conf.getAll.contains(noData))
  }
}
