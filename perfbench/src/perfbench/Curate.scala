package perfbench

import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.Artifacts
import graft.engine.llm.{Curation, Dedup, Tokenizer}

/** `curate`: one batch pass over generated docs through q133's funnel plus
  * the near-dup stage. Each stage is materialised to the pass's own
  * directory, so every layer call does its own work inside its span. */
final class Curate(ctx: Ctx, val nDocs: Long) extends Workload {
  import Curate._
  private val spark = ctx.spark
  private var docsPath = ""
  private var benchTable = ""
  val passWall = mutable.ArrayBuffer.empty[Double]

  /** Write the docs and publish the benchmark suite's n-gram table. */
  def setup(): Unit = {
    docsPath = ctx.fresh("curate-docs")
    Gen.docs(spark, nDocs, ctx.seed).write.parquet(docsPath)
    benchTable = Artifacts.table("perfbench_bench",
      s"${ctx.seed}|$nDocs|${ctx.work}")
    Curation.publishBenchmarkNgrams(Gen.benchmark(spark, nDocs, ctx.seed),
      "text", benchTable, n = Gen.NgramLen, numBuckets = 8)
  }

  private def stage(dir: String, df: DataFrame): DataFrame = {
    df.write.parquet(dir)
    spark.read.parquet(dir)
  }

  /** A 3 000-doc pass takes 14–20 s on the 4-core host. */
  def nominalUnitS: Double = 10.0
  def unit(checks: Checks): Unit = passWall += pass(checks)
  def reset(): Unit = passWall.clear()

  /** One pass; returns its wall seconds. Checks run after the clock. */
  private def pass(checks: Checks): Double = {
    val dir = ctx.fresh("curate-pass")
    val t0 = Ctx.now()
    val docs = spark.read.parquet(docsPath)
    val filtered = ctx.span("llm.Curation.corpusFilter") {
      stage(s"$dir/filtered",
        Curation.corpusFilter(docs).select(col("doc_id"), col("text")))
    }
    val deduped =
      if (ctx.plant == "skip_neardup") filtered
      else ctx.span("llm.Dedup.dedupNearDuplicates") {
        stage(s"$dir/deduped",
          Dedup.dedupNearDuplicates(filtered, "text", "doc_id"))
      }
    val trimmed = ctx.span("llm.Dedup.trimRepeatedSpans") {
      stage(s"$dir/trimmed",
        Dedup.trimRepeatedSpans(deduped, "text", "doc_id", minLen = MinSpan)
          .select(col("doc_id"), col("trimmed_text").as("text")))
    }
    val contam = ctx.span("llm.Curation.contaminationBucketed") {
      stage(s"$dir/contam", Curation.contaminationBucketed(trimmed,
        spark.table(benchTable), "text", "doc_id", n = Gen.NgramLen))
    }
    val survivors = stage(s"$dir/survivors", trimmed.join(
      contam.filter(col("n_contaminated") > 0L).select("doc_id"),
      Seq("doc_id"), "left_anti"))
    val vocab = ctx.span("llm.Tokenizer.trainWordVocab") {
      Tokenizer.trainWordVocab(survivors, "text", VocabSize)
    }
    val ids = ctx.span("llm.Tokenizer.tokenIds") {
      stage(s"$dir/ids", survivors.select(col("doc_id"),
        Tokenizer.tokenIds(col("text"), vocab).as("ids")))
    }
    ctx.span("llm.Curation.writePackedSequences") {
      Curation.writePackedSequences(ids, "doc_id", "ids", nShards = 4,
        seqLen = 512, path = s"$dir/packed")
    }
    val wall = Ctx.secs(t0)
    checks.op()
    ctx.span("bench.check")(verify(dir, checks))
    Ctx.rm(dir)
    wall
  }

  private def verify(dir: String, checks: Checks): Unit = {
    val surv = spark.read.parquet(s"$dir/survivors")
    val pairs = surv.filter(pmod(col("doc_id"), lit(10L)) <= 1L)
      .groupBy(floor(col("doc_id") / 10L)).count()
      .filter(col("count") > 1L).count()
    checks.check(pairs == 0L,
      s"curate: $pairs planted near-dup pairs kept both docs")
    val boiler = surv.filter(col("text").contains(Gen.Boilerplate.take(MinSpan)))
      .count()
    checks.check(boiler == 0L, s"curate: $boiler survivors hold the boilerplate span")
    val contaminated = surv.filter(pmod(col("doc_id"), lit(20L)) === 7L).count()
    checks.check(contaminated == 0L,
      s"curate: $contaminated planted-contaminated docs survived")
    val idsTotal = spark.read.parquet(s"$dir/ids")
      .agg(sum(size(col("ids")).cast("long"))).head().getLong(0)
    val packed = spark.read.parquet(s"$dir/packed")
      .agg(sum(col("n_tokens"))).head()
    val packedTotal = if (packed.isNullAt(0)) 0L else packed.getLong(0)
    checks.check(packedTotal == idsTotal && idsTotal > 0L,
      s"curate: packed tokens $packedTotal != survivor tokens $idsTotal")
    val n = surv.count()
    checks.check(n > 0L && n < nDocs, s"curate: $n survivors of $nDocs docs")
  }

  /** Rate: input docs per second through the whole chain; latency: the
    * wall of one pass. */
  def report(out: Out): Unit = {
    out.e2e("rate_per_s") = (nDocs / Stats.median(passWall.toSeq), "1/s")
    latency(out, passWall.map(_ * 1000.0).toSeq)
    out.context("curate.docs") = nDocs
    out.context("curate.passes") = passWall.size
  }
}

object Curate {
  val MinSpan = 50
  val VocabSize = 2000
  val Spans = Seq("llm.Curation.corpusFilter", "llm.Dedup.dedupNearDuplicates",
    "llm.Dedup.trimRepeatedSpans", "llm.Curation.contaminationBucketed",
    "llm.Tokenizer.trainWordVocab", "llm.Tokenizer.tokenIds",
    "llm.Curation.writePackedSequences")
}
