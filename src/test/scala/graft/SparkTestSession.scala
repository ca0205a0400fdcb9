package graft

import org.apache.spark.sql.SparkSession
import graft.engine.GraftSession

/** One shared local session for the whole test JVM (guide: one SparkSession
  * per suite, lazy). Its settings are [[GraftSession]]'s conf block at the
  * driver's `local[4]` width, so the suite runs every session invariant the
  * driver surfaces run; only the app name and warehouse dir are its own. */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.configured(
      SparkSession.builder().master("local[4]").appName("graft-tests"), "4")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}
