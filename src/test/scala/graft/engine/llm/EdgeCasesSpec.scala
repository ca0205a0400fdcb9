package graft.engine.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession.spark

/** Degenerate-input behavior: empty batches, no-hit queries, singleton
  * corpora. At 100 TB these are not edge cases — a partition, a source, or
  * an ingestion day IS empty somewhere every run; operators must return
  * empty results, never throw. */
class EdgeCasesSpec extends AnyFunSuite {
  import spark.implicits._

  private val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
  private val one = Seq((1L, "just one document here")).toDF("doc_id", "text")

  test("exactDedup / incrementalDedup on empty inputs") {
    assert(Dedup.exactDedup(empty, "text", "doc_id").count() == 0)
    assert(Dedup.incrementalDedup(empty, one, "text", "doc_id").count() == 0)
    assert(Dedup.incrementalDedup(one, empty, "text", "doc_id").count() == 1)
  }

  test("near-dup operators on empty and singleton corpora emit no pairs") {
    assert(Dedup.minHashNearDups(empty, "text", "doc_id").count() == 0)
    assert(Dedup.minHashNearDups(one, "text", "doc_id").count() == 0)
    assert(Dedup.simHashNearDups(empty, "text", "doc_id").count() == 0)
    assert(Dedup.simHashNearDups(one, "text", "doc_id").count() == 0)
  }

  test("tokenizer kernels: null/empty/unicode text and degenerate vocab") {
    val vocab = Array("ab", "abc")
    val rows = Seq[(java.lang.Long, String)](
      (1L, null), (2L, ""), (3L, "   "), (4L, "日本語 text"),
      (5L, "ABCABX")).toDF("id", "t")
      .select(col("id"), Tokenizer.tokenCount(col("t"), vocab).as("n"))
      .orderBy(col("id")).collect()
    assert(rows(0).isNullAt(1), "null text -> null count (expression null)")
    assert(rows(1).getLong(1) == 0L && rows(2).getLong(1) == 0L)
    // non-ASCII chars fall through the single-char base vocab: 3 CJK
    // chars + 4 latin ("text") = 7 tokens
    assert(rows(3).getLong(1) == 7L)
    // greedy: "abc"+"ab"+"x" after lowercasing
    assert(rows(4).getLong(1) == 3L)
    // training on an empty corpus: no words -> empty vocab is refused by
    // publish, and tokenCount with an empty vocab degrades to char count
    assert(Tokenizer.trainWordVocab(empty, "text", 8).isEmpty)
    val charCount = Seq("abc de").toDF("t")
      .select(Tokenizer.tokenCount(col("t"), Array.empty[String]))
      .collect().head.getLong(0)
    assert(charCount == 5L)
  }

  test("BPE kernels: null/empty/unicode text, empty merge list, empty " +
      "training corpus") {
    val merges = Array(("a", "b"), ("ab", "c"))
    val rows = Seq[(java.lang.Long, String)](
      (1L, null), (2L, ""), (3L, "   "), (4L, "\u65e5\u672c\u8a9e abcx"),
      (5L, "ABCABX")).toDF("id", "t")
      .select(col("id"), Tokenizer.bpeTokenCount(col("t"), merges).as("n"))
      .orderBy(col("id")).collect()
    assert(rows(0).isNullAt(1), "null text -> null count (expression null)")
    assert(rows(1).getLong(1) == 0L && rows(2).getLong(1) == 0L)
    // 3 CJK single-code-point tokens + "abcx" -> [abc, x] = 2
    assert(rows(3).getLong(1) == 5L)
    // lowercased "abcabx": [abc][ab][x] under merge order
    assert(rows(4).getLong(1) == 3L)
    // empty merge list: pure per-word character counting
    val n = Seq("abc de").toDF("t")
      .select(Tokenizer.bpeTokenCount(col("t"),
        Array.empty[(String, String)]))
      .collect().head.getLong(0)
    assert(n == 5L)
    // empty training corpus -> no merges; publish refuses the empty list
    assert(Tokenizer.trainBpeMerges(empty, "text", 4).isEmpty)
    intercept[IllegalArgumentException] {
      Tokenizer.publishMerges(spark, java.nio.file.Files
        .createTempDirectory("graft_edge_merges").toString + "/m",
        Array.empty)
    }
  }

  test("image/audio signatures on empty media sets emit nothing; " +
      "exact-dup joins stay empty") {
    val noMedia = spark.emptyDataset[Multimodal.MediaRow](
      org.apache.spark.sql.Encoders.product[Multimodal.MediaRow])
    assert(Multimodal.imageSignatures(noMedia).count() == 0)
    assert(Multimodal.imageExactDups(noMedia).count() == 0)
    assert(Multimodal.imageNearDups(noMedia).count() == 0)
    assert(Multimodal.audioSignatures(noMedia).count() == 0)
    assert(Multimodal.audioExactDups(noMedia).count() == 0)
  }

  test("quantileFloor on empty and singleton groups") {
    val scored1 = one.withColumn("s", lit(1.0))
    assert(Curation.quantileFloor(empty.withColumn("s", lit(0.0)),
      "text", "s", 0.5, 64).count() == 0)
    // singleton group: the p-quantile of one row is that row -> it survives
    assert(Curation.quantileFloor(scored1, "text", "s", 0.25, 64)
      .count() == 1)
  }

  test("connectedComponents of an empty pair set is empty") {
    val pairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.connectedComponents(pairs).count() == 0)
  }

  test("hashSample / mixtureSample of an empty frame") {
    assert(Curation.hashSample(empty, col("doc_id"), 0.5).count() == 0)
    assert(Curation.mixtureSample(empty, col("doc_id"), lit("s"),
      Map("s" -> 0.5), 0.1).count() == 0)
  }

  test("contamination with an empty benchmark reports zero everywhere") {
    val out = Curation.contamination(one, empty, "text", "doc_id")
      .collect()
    assert(out.length == 1 && out(0).getLong(2) == 0L)
  }

  test("repeatedSpans edge cases: empty corpus, minLen longer than every " +
      "doc, minLen = 1, and the all-same-char hot-key doc") {
    for (hashed <- Seq(false, true)) {
      def spans(df: org.apache.spark.sql.DataFrame, l: Int) =
        if (hashed) Dedup.repeatedSpansHashed(df, "text", "doc_id", l)
        else Dedup.repeatedSpans(df, "text", "doc_id", l)
      assert(spans(empty, 10).count() == 0, s"empty corpus (hashed=$hashed)")
      val shorts = Seq((1L, "tiny"), (2L, "tiny")).toDF("doc_id", "text")
      assert(spans(shorts, 10).count() == 0,
        s"docs shorter than minLen contribute no windows (hashed=$hashed)")
      // minLen = 1: every repeated CHARACTER marks; 'abab' + 'ba' share
      // all their chars -> whole-doc spans
      val chars = Seq((1L, "abab"), (2L, "ba")).toDF("doc_id", "text")
      assert(spans(chars, 1).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet ==
        Set((1L, 0L, 4L), (2L, 0L, 2L)), s"minLen=1 (hashed=$hashed)")
      // SCALE.md hot key: an all-same-char page duplicated — every window
      // of both docs is the SAME key (maximal self-overlap), yet output
      // stays one full-length span per doc
      val aaaa = "a" * 200
      val hot = Seq((1L, aaaa), (2L, aaaa), (3L, "b" * 150))
        .toDF("doc_id", "text")
      assert(spans(hot, 40).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet ==
        Set((1L, 0L, 200L), (2L, 0L, 200L), (3L, 0L, 150L)),
        s"hot-key docs collapse to one span each (hashed=$hashed)")
      // doc 3: 'b'*150 alone still spans fully — its windows repeat
      // WITHIN the doc (self-overlap), the Lee et al. self-repeat case
    }
    assert(Dedup.spanDupStats(empty, "text", "doc_id", 10).count() == 0)
    intercept[IllegalArgumentException] {
      Dedup.repeatedSpans(one, "text", "doc_id", 0)
    }
  }

  test("contaminationBucketed with an empty ingest batch returns no rows") {
    val bench = Curation.publishBenchmarkNgrams(one, "text",
      graft.engine.Artifacts.table("spec_edge_benchng", s"${System.nanoTime()}"),
      n = 13)
    assert(Curation.contaminationBucketed(
      empty, bench, "text", "doc_id").count() == 0)
  }

  test("bm25 with query terms absent from the corpus returns empty, not NaN") {
    val out = TextAnalysis.bm25(one, "doc_id", "text", Seq("zzzqqq"))
    assert(out.count() == 0)
  }

  test("bm25 on an EMPTY corpus returns empty (avgdl aggregate is NULL)") {
    val out = TextAnalysis.bm25(empty, "doc_id", "text", Seq("join"))
    assert(out.count() == 0)
    assert(out.columns.toSeq == Seq("doc_id", "n_matched_terms", "bm25"))
  }

  test("packSequences of an empty corpus yields no packs") {
    val emptyS = Seq.empty[(Long, String, String)]
      .toDF("doc_id", "text", "source")
    assert(Curation.packSequences(emptyS, "doc_id", "text", 100L,
      Seq("source")).count() == 0)
  }

  test("repetitionScore on a single-token doc is 0 (whole-text fallback gram)") {
    val tiny = Seq((1L, "word")).toDF("doc_id", "text")
    val r = TextAnalysis.repetitionScore(tiny, "doc_id", "text").head()
    assert(r.getLong(1) == 1L && r.getDouble(3) == 0.0)
  }

  private val vecs = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
    (3L, Array(1.0f, 0.0f, 0.0f, 0.0f))) // dup of 1
    .toDF("vec_id", "embedding")
  private val noVecs = Seq.empty[(Long, Array[Float])]
    .toDF("vec_id", "embedding")

  test("semanticDedup: empty corpus is empty; singleton survives itself") {
    assert(Similarity.semanticDedup(noVecs, threshold = 0.9).count() == 0)
    val single = vecs.filter(col("vec_id") === 1)
    assert(Similarity.semanticDedup(single, threshold = 0.9)
      .select("vec_id").head().getLong(0) == 1L)
    // the planted dup loses, the two distinct directions survive
    assert(Similarity.semanticDedup(vecs, threshold = 0.999999)
      .select("vec_id").collect().map(_.getLong(0)).toSet == Set(1L, 2L))
  }

  test("pqTrain with k larger than the corpus yields corpus-sized books " +
      "that still encode/search") {
    val books = Similarity.pqTrain(vecs, m = 2, k = 100, iters = 1)
    assert(books.forall(_.length == 3)) // only 3 seed rows exist
    val top = Similarity.pqTopK(vecs, vecs.filter(col("vec_id") === 1), 2, books)
    assert(top.count() == 2) // searches fine with the short codebooks
  }

  test("pqTopK on an empty corpus returns no rows (queries present)") {
    val books = Similarity.pqTrain(vecs, m = 2, k = 2, iters = 1)
    assert(Similarity.pqTopK(noVecs, vecs.limit(1), 3, books).count() == 0)
  }

  test("pqTopK / ivfPqTopK with an EMPTY query set return no rows, not a crash") {
    val books = Similarity.pqTrain(vecs, m = 2, k = 2, iters = 1)
    val noQueries = vecs.filter(lit(false))
    val out = Similarity.pqTopK(vecs, noQueries, 3, books)
    assert(out.count() == 0)
    assert(out.columns.toSeq == Seq("qid", "rnk", "nid", "cosine"))
    val cents = Similarity.ivfCentroids(vecs, nlist = 2, iters = 1)
    assert(Similarity.ivfPqTopK(vecs, noQueries, 3, cents, books,
      nprobe = 2).count() == 0)
  }
}
