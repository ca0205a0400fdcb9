package graft.engine.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession.{sfDir, spark}
import graft.engine.Tables

/** End-to-end invariants of the q88 curation pipeline (JSONL quarantine →
  * Bloom ingestion dedup → semantic dedup → tiers → packing → snapshot).
  * The DuckDB oracle pins the exact values; this spec pins the PLANTED
  * BEHAVIORS a red row wouldn't localize: which stage killed which rows.
  */
class CuratePipelineSpec extends AnyFunSuite {

  private lazy val out = {
    val q = graft.engine.Registry.all.find(_.name == "q88_curate_e2e").get
    q.run(spark, sfDir).collect()
  }

  test("quarantine: exactly the three planted corrupt lines surface") {
    val quarantined = out.filter(_.getAs[String]("lang") == "quarantine")
    assert(quarantined.map(_.getAs[Long]("doc_id")).sorted.toSeq ==
      Seq(-3L, -2L, -1L), "three planted bad lines, stable ids")
    assert(out.count(_.getAs[Long]("doc_id") < 0) == 3,
      "no clean row may be misrouted into quarantine ids")
  }

  test("ingestion dedup: no exact-dup copy and no already-ingested doc survives") {
    val ids = out.map(_.getAs[Long]("doc_id")).toSet
    assert(!ids.exists(id => id >= 100000 && id < 200000),
      "planted exact-text copies must die in ingestion dedup")
    assert(!ids.exists(id => id >= 0 && id < 50),
      "docs already in the ingested corpus must anti-join away")
  }

  test("semantic dedup: copy dies when its source survives, is promoted otherwise") {
    val ids = out.map(_.getAs[Long]("doc_id")).toSet
    val planted = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 50 === 0).select("doc_id")
      .collect().map(_.getLong(0))
    planted.foreach { src =>
      val copy = src + 200000
      if (src >= 50) {
        // source survived ingestion dedup -> identical embedding, min id wins
        assert(ids.contains(src) && !ids.contains(copy),
          s"semantic copy $copy must lose to surviving source $src")
      } else {
        // source was already-ingested (dropped) -> the copy is the only
        // member of its embedding clique and must survive
        assert(ids.contains(copy),
          s"semantic copy $copy must be promoted when source $src was dropped")
      }
    }
  }

  test("tiers and packs: every curated row gets a valid tier and pack") {
    val curated = out.filter(_.getAs[Long]("doc_id") >= 0)
    assert(curated.nonEmpty)
    assert(curated.forall(r => (1L to 4L).contains(r.getAs[Long]("tier"))),
      "tier must be a quartile 1..4")
    assert(curated.forall(r => r.getAs[Long]("pack_id") >= 0L &&
      r.getAs[Long]("n_tokens") >= 0L), "pack assignment must be total")
    // packing is per-source contiguous from 0
    curated.groupBy(_.getAs[String]("source")).values.foreach { rs =>
      val packs = rs.map(_.getAs[Long]("pack_id")).distinct.sorted.toSeq
      assert(packs == (0L until packs.length.toLong).toList,
        "pack ids must be contiguous from 0 within a source shard")
    }
  }
}
