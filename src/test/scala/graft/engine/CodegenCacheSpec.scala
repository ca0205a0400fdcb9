package graft.engine

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession.{sfDir, spark}
import graft.engine.llm.{Curation, Dedup, Tokenizer}

/** The session's codegen cache holds a curation funnel's working set: a
  * second run of the same multi-operator funnel reuses the classes the
  * first run compiled. At Spark's 100-entry default the funnel's classes
  * evicted one another, and the second run recompiled 149 of them. */
class CodegenCacheSpec extends AnyFunSuite {
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** The curate funnel's operators over the sf0.001 documents, each
    * stage materialised under `dir`. */
  private def funnel(dir: String): Unit = {
    def stage(name: String, df: org.apache.spark.sql.DataFrame) = {
      df.write.parquet(s"$dir/$name")
      spark.read.parquet(s"$dir/$name")
    }
    val filtered = stage("filtered", Curation.corpusFilter(
      Tables.documents(spark, sfDir)).select(col("doc_id"), col("text")))
    val deduped = stage("deduped",
      Dedup.dedupNearDuplicates(filtered, "text", "doc_id"))
    val trimmed = stage("trimmed",
      Dedup.trimRepeatedSpans(deduped, "text", "doc_id", minLen = 50)
        .select(col("doc_id"), col("trimmed_text").as("text")))
    val vocab = Tokenizer.trainWordVocab(trimmed, "text", 500)
    val ids = stage("ids", trimmed.select(col("doc_id"),
      Tokenizer.tokenIds(col("text"), vocab).as("ids")))
    Curation.writePackedSequences(ids, "doc_id", "ids", nShards = 2,
      seqLen = 128, path = s"$dir/packed")
  }

  test("a repeated funnel compiles at most a handful of new classes") {
    val root = Artifacts.scratch("codegen_cache_spec")
    try {
      funnel(s"$root/first")
      val before = compiles
      funnel(s"$root/second")
      val recompiled = compiles - before
      info(s"the second run compiled $recompiled generated classes")
      assert(recompiled <= 10,
        s"the second run compiled $recompiled generated classes")
    } finally sources.SnapshotStore.deleteRecursively(java.nio.file.Paths.get(root))
  }
}
