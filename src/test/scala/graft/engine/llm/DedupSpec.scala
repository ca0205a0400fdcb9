package graft.engine.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession.spark

/** Planted-duplicate tests for the hash-family dedup operators (their
  * engine-specific hashes have no DuckDB oracle — SURVEY.md §5). */
class DedupSpec extends AnyFunSuite {
  import spark.implicits._

  private val sentence =
    "the quick brown fox jumps over the lazy dog while the cat watches from the warm windowsill every single morning"
  // SimHash needs enough tokens that a one-token edit moves few bit-votes:
  // ~200-token docs (like real documents), not one sentence.
  private val base = Seq.fill(10)(sentence).mkString(" ")

  // 0/1: exact dups. 2: near-dup of 0 (ONE token changed in the last copy).
  // 3/4: unrelated.
  private lazy val docs = Seq(
    (0L, base),
    (1L, base),
    (2L, (Seq.fill(9)(sentence) :+ sentence.replace("lazy", "sleepy")).mkString(" ")),
    (3L, "completely different content about spark query engines and columnar execution at massive scale"),
    (4L, "yet another unrelated document discussing benchmark suites and the joy of deterministic tests")
  ).toDF("doc_id", "text")

  test("exactDedup keeps the lowest id of each exact-dup group") {
    val kept = Dedup.exactDedup(docs, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 2L, 3L, 4L))
  }

  test("exactDedup is idempotent") {
    val once = Dedup.exactDedup(docs, "text", "doc_id")
    val twice = Dedup.exactDedup(once, "text", "doc_id")
    assert(once.count() == twice.count())
  }

  test("minHash finds planted near-dups and skips unrelated docs") {
    val pairs = Dedup.minHashNearDups(docs, "text", "doc_id",
        jaccardThreshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)), "exact dups must pair")
    assert(pairs.contains((0L, 2L)) || pairs.contains((1L, 2L)),
      "one-token-changed near-dup must pair")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("incrementalMinHashNearDups: batch vs signed corpus, estimate tracks Jaccard") {
    // existing corpus: docs 0 (base) and 3 (unrelated), SIGNED ONCE —
    // the incremental path must see only their signature table
    val existing = docs.filter(col("doc_id").isin(0L, 3L))
    val exSigs = Dedup.minHashSignatures(existing, "text", "doc_id")
    // incoming: 10 = exact copy of 0, 12 = near-dup of 0, 14 = unrelated
    val incoming = Seq(
      (10L, base),
      (12L, (Seq.fill(9)(sentence) :+ sentence.replace("lazy", "sleepy")).mkString(" ")),
      (14L, "entirely novel text with nothing shared across any band at all")
    ).toDF("doc_id", "text")
    val inSigs = Dedup.minHashSignatures(incoming, "text", "doc_id")
    val got = Dedup.incrementalMinHashNearDups(inSigs, exSigs, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.contains((10L, 0L)), "exact copy must match its signed original")
    assert(got((10L, 0L)) == 1.0, "identical signatures estimate exactly 1.0")
    assert(got.contains((12L, 0L)), "near-dup must match across the sides")
    assert(got((12L, 0L)) >= 0.5 && got((12L, 0L)) < 1.0,
      s"estimate ${got((12L, 0L))} should sit below 1 for a one-token edit")
    assert(!got.keys.exists(p => p._1 == 14L || p._2 == 3L),
      "unrelated docs must not pair in either direction")
    // signatures are pure content functions: signing the SAME corpus in two
    // "ingests" and banding them is identical to one batch signing
    val resigned = Dedup.minHashSignatures(existing, "text", "doc_id")
    val again = Dedup.incrementalMinHashNearDups(inSigs, resigned, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(again == got, "re-signing must not change any estimate")
  }

  test("bucketed band table: the history side of the incremental join never shuffles") {
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // disable broadcast so the plan-shape claim is about PARTITIONING, not
    // about the test fixture being broadcast-small
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val table = s"banded_sigs_${System.nanoTime()}"
    try {
      val existing = docs.filter(col("doc_id").isin(0L, 1L, 3L))
      val exSigs = Dedup.minHashSignatures(existing, "text", "doc_id")
      Dedup.publishBandedSignatures(exSigs, table, numBuckets = 8)
      val incoming = Seq((10L, base)).toDF("doc_id", "text")
      val inSigs = Dedup.minHashSignatures(incoming, "text", "doc_id")
      def candidates(exBanded: org.apache.spark.sql.DataFrame) =
        Dedup.incrementalCandidates(
          Dedup.bandedFromSigs(inSigs, 32, 8), exBanded, 1000)
      val bucketed = candidates(spark.table(table))
      val onTheFly = candidates(Dedup.bandedFromSigs(exSigs, 32, 8))
      def shuffles(df: org.apache.spark.sql.DataFrame): Int = {
        df.collect() // AQE finalizes the executed plan on execution
        val plan = df.queryExecution.executedPlan match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            a.executedPlan // the final adaptive plan is a field, not a child
          case p => p
        }
        // count exchanges in the RENDERED plan: AQE nests re-optimized
        // subtrees behind non-child fields, which .collect cannot reach
        "ShuffleExchange|Exchange hashpartitioning".r
          .findAllIn(plan.toString).length
      }
      // on-the-fly: existing banding shuffles for its bucket agg, plus the
      // incoming-side exchange and the dropDuplicates exchange
      val nFly = shuffles(onTheFly)
      // bucketed: the history scan's bucketing serves BOTH the bucket agg
      // and the join — only the incoming side and dropDuplicates exchange
      val nBucketed = shuffles(bucketed)
      assert(nBucketed < nFly,
        s"bucketed path must drop the history shuffle ($nBucketed vs $nFly)")
      val plan = bucketed.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"),
        "the history side must be read as a bucketed scan")
      // identical answers
      assert(bucketed.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
        onTheFly.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
    }
  }

  test("simHash: identical docs at hamming 0, near-dups within a few bits") {
    val pairs = Dedup.simHashNearDups(docs, "text", "doc_id", maxHamming = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs((0L, 1L)) == 0L, "exact dups have identical simhash")
    assert(pairs.contains((0L, 2L)) && pairs((0L, 2L)) <= 16L)
    assert(!pairs.contains((3L, 4L)), "unrelated docs must not pair")
  }

  test("incrementalDedup drops within-batch dups AND docs already in the corpus") {
    val existing = Seq((0L, base), (1L, "old corpus doc about warehouses"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (10L, base),                       // already ingested → dropped
      (11L, "fresh doc one"),            // new → kept
      (12L, "fresh doc one"),            // within-batch dup → dropped
      (13L, "fresh doc two")             // new → kept
    ).toDF("doc_id", "text")
    val kept = Dedup.incrementalDedup(incoming, existing, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(11L, 13L))
  }

  test("bloomPrefilterDedup == incrementalDedup exactly (bloom is performance-only)") {
    val existing = Seq((0L, base), (1L, "old corpus doc about warehouses"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (10L, base),                       // already ingested → dropped
      (11L, "fresh doc one"),            // new → kept
      (12L, "fresh doc one"),            // within-batch dup → dropped
      (13L, "fresh doc two")             // new → kept
    ).toDF("doc_id", "text")
    val viaBloom = Dedup.bloomPrefilterDedup(incoming, existing, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaBloom == Set(11L, 13L))
    // and on a larger organic slice: identical output to the exact path,
    // even at a high fpp where false positives definitely occur — they are
    // verified away, never surfacing in the result
    val docs = graft.engine.Tables.documents(spark, graft.SparkTestSession.sfDir)
    val in = docs.filter(col("doc_id") >= 100)
    val ex = docs.filter(col("doc_id") < 100)
    val exact = Dedup.incrementalDedup(in, ex, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val bloomy = Dedup.bloomPrefilterDedup(in, ex, "text", "doc_id", fpp = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(bloomy == exact)
  }

  test("repeatedChunks reports only cross-doc repeats, with per-chunk spread") {
    // docs 1/2 share their first 3-token window; doc 2 also repeats it
    // internally (within-doc repeat alone must NOT qualify — n_docs >= 2
    // is about cross-document contamination); doc 3 is unique
    val docs = Seq(
      (1L, "alpha beta gamma tail one"),
      (2L, "alpha beta gamma alpha beta gamma"),
      (3L, "delta epsilon zeta")
    ).toDF("doc_id", "text")
    val out = Dedup.repeatedChunks(docs, "text", "doc_id", windowTokens = 3)
      .collect().map(r => (r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_occurrences"), r.getAs[Long]("min_doc_id")))
    assert(out.length == 1, s"exactly the shared chunk: ${out.toSeq}")
    assert(out(0) == ((2L, 3L, 1L)),
      "2 docs, 3 occurrences (doc 2 holds it twice), min doc 1")
    // a purely within-doc repeat never appears
    val solo = Seq((9L, "x y z x y z")).toDF("doc_id", "text")
    assert(Dedup.repeatedChunks(solo, "text", "doc_id", 3).count() == 0L)
  }

  test("repeatedSpans: hand-built corpus — exact maximal-span boundaries " +
      "for a shared mid-section, a self-repeat, a whole-doc copy, and a " +
      "clean doc") {
    // L = 10 keeps boundaries countable by hand. Unique filler characters
    // guarantee no accidental repeats outside the planted regions.
    val shared = "ABCDEFGHIJKLMNOPQRST" // 20 chars, planted in docs 0 and 1
    val selfRep = "0123456789" // exactly L, repeated twice inside doc 2
    val corpus = Seq(
      (0L, "aaabbbcccd" + shared + "dcccbbbaaa"), // shared at [10, 30)
      (1L, "zzzyyyxxxw" + shared + "wxxxyyyzzz"), // shared at [10, 30)
      (2L, selfRep + "qqqrrrsssttt" + selfRep), // [0,10) and [22,32)
      (3L, "every char here appears once: no span"),
      (4L, "duplicate of this whole document body"),
      (5L, "duplicate of this whole document body")
    ).toDF("doc_id", "text")
    val spans = Dedup.repeatedSpans(corpus, "text", "doc_id", minLen = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(spans == Set(
      (0L, 10L, 30L), (1L, 10L, 30L), // maximal: 11 overlapping windows merge
      (2L, 0L, 10L), (2L, 22L, 32L), // self-repeat counts, two disjoint spans
      (4L, 0L, 37L), (5L, 0L, 37L) // whole-doc copies span end to end
    ), s"got $spans")
    val stats = Dedup.spanDupStats(corpus, "text", "doc_id", minLen = 10)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))).toMap
    assert(stats(0L) == ((1L, 20L, 40L, 0.5)))
    assert(stats(2L) == ((2L, 20L, 32L, 0.625)))
    assert(stats(3L) == ((0L, 0L, 37L, 0.0)), "clean doc must appear with zeros")
    assert(stats(4L) == ((1L, 37L, 37L, 1.0)))
    assert(stats.size == 6, "every input doc is represented")
  }

  test("repeatedSpans: abutting (non-overlapping) repeated windows merge " +
      "into one span; a gap of one unrepeated char splits them") {
    // docs 0/1 share BOTH 10-char blocks; in doc 0 they abut (one 20-char
    // span), in doc 1 a unique char separates them (two 10-char spans)
    val a = "ABCDEFGHIJ"
    val b = "KLMNOPQRST"
    val corpus = Seq(
      (0L, a + b + "uvwxyz"), // abutting: [0, 20)
      (1L, a + "!" + b + "%&#@+="), // split: [0, 10) and [11, 21)
      (2L, "padpadpad1" + a + "2datdatdat"), // third occurrence of a
      (3L, "padpadpad3" + b + "4datdatdat") // third occurrence of b
    ).toDF("doc_id", "text")
    val spans = Dedup.repeatedSpans(corpus, "text", "doc_id", minLen = 10)
      .filter(col("doc_id") <= 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(spans == Set((0L, 0L, 20L), (1L, 0L, 10L), (1L, 11L, 21L)),
      s"got $spans")
  }

  test("trimRepeatedSpans: exact spliced text on the hand-built corpus — " +
      "mid-section cut, two self-repeat cuts, whole-doc copies emptied, " +
      "clean doc verbatim") {
    val shared = "ABCDEFGHIJKLMNOPQRST"
    val selfRep = "0123456789"
    val corpus = Seq(
      (0L, "aaabbbcccd" + shared + "dcccbbbaaa"),
      (1L, "zzzyyyxxxw" + shared + "wxxxyyyzzz"),
      (2L, selfRep + "qqqrrrsssttt" + selfRep),
      (3L, "every char here appears once: no span"),
      (4L, "duplicate of this whole document body"),
      (5L, "duplicate of this whole document body")
    ).toDF("doc_id", "text")
    for (hashed <- Seq(false, true)) {
      val out = Dedup.trimRepeatedSpans(corpus, "text", "doc_id",
          minLen = 10, hashedKeys = hashed)
        .collect()
        .map(r => r.getLong(0) -> ((r.getString(2), r.getLong(3)))).toMap
      assert(out(0L) == (("aaabbbcccd" + "dcccbbbaaa", 20L)))
      assert(out(1L) == (("zzzyyyxxxw" + "wxxxyyyzzz", 20L)))
      assert(out(2L) == (("qqqrrrsssttt", 20L)))
      assert(out(3L) == (("every char here appears once: no span", 0L)),
        "clean doc must pass through verbatim")
      assert(out(4L) == (("", 37L)), "whole-doc copy trims to empty")
      assert(out(5L) == (("", 37L)))
    }
  }

  test("repeatedSpansHashed == repeatedSpans on the real corpus with " +
      "planted copies, and WindowHashes matches RollingHash per window") {
    val docs = graft.engine.Tables
      .documents(spark, graft.SparkTestSession.sfDir)
      .select(col("doc_id"), col("text"))
    val corpus = docs.unionByName(
      docs.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("text")))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val literal = rows(Dedup.repeatedSpans(corpus, "text", "doc_id", 40))
    val hashed = rows(Dedup.repeatedSpansHashed(corpus, "text", "doc_id", 40))
    assert(literal.nonEmpty, "fixture must produce spans")
    assert(hashed == literal,
      "hash-keyed + verify must reproduce the literal spans exactly")
    // kernel contract: entry i of windowHashes == rollingHash of the
    // substring starting at i — on real text, every window of every doc
    val mism = docs.limit(50)
      .select(col("doc_id"),
        posexplode(graft.engine.functions.F.windowHashes(col("text"), 17))
          .as(Seq("pos", "wh")),
        col("text"))
      .withColumn("rh", graft.engine.functions.F.rollingHash(
        col("text").substr(col("pos") + 1, lit(17))))
      .filter(col("wh") =!= col("rh")).count()
    assert(mism == 0L, "rolling update must equal the per-window fold")
  }

  test("simHash maxHamming=0 (one 64-bit band) still pairs exact dups") {
    // Regression: bands=1 ⇒ width=64, and 1L << 64 == 1L on the JVM, so an
    // unguarded (1L << width) - 1 mask is 0 — every fingerprint lands in
    // one bucket and the size cap drops pairs. The full-width mask must be
    // the fingerprint itself.
    val pairs = Dedup.simHashNearDups(docs, "text", "doc_id", maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L)),
      "exactly the planted exact-dup pair at hamming 0")
  }

  test("simHashCapOverflow reports overflowed buckets, 0 when none") {
    val clean = Dedup.simHashCapOverflow(docs, "text", "doc_id",
      maxHamming = 3, maxBucketSize = 1000).head
    assert(clean.getLong(0) == 0L, "5 small docs never overflow a 1000-cap")
    assert(clean.getLong(1) >= 2L, "exact dups share every band bucket")
    // 40 identical docs with cap 10: every one of the 4 bands overflows.
    val many = (0L until 40L).map(i => (i, base)).toDF("doc_id", "text")
    val hot = Dedup.simHashCapOverflow(many, "text", "doc_id",
      maxHamming = 3, maxBucketSize = 10).head
    assert(hot.getLong(0) == 4L && hot.getLong(1) == 40L)
  }

  test("custom MinHash agrees with MLlib MinHashLSH on planted near-dups") {
    // cross-check the hand-rolled LSH path against ml.feature.MinHashLSH:
    // both must surface the planted (0,1)/(0,2) near-dup pairs.
    import org.apache.spark.ml.feature.{CountVectorizer, MinHashLSH}
    val withShingles = docs.select(col("doc_id"),
      Dedup.shingles(Dedup.tokens(col("text")), 3).as("sh"))
    val cv = new CountVectorizer().setInputCol("sh").setOutputCol("features")
      .setBinary(true).fit(withShingles)
    val vectorized = cv.transform(withShingles)
    val lsh = new MinHashLSH().setInputCol("features").setOutputCol("hashes")
      .setNumHashTables(8).setSeed(42L).fit(vectorized)
    val pairs = lsh.approxSimilarityJoin(vectorized, vectorized, 0.5, "dist")
      .select(col("datasetA.doc_id").as("a"), col("datasetB.doc_id").as("b"))
      .filter(col("a") < col("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ours = Dedup.minHashNearDups(docs, "text", "doc_id", jaccardThreshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)) && ours.contains((0L, 1L)))
    assert(pairs.contains((0L, 2L)) && ours.contains((0L, 2L)))
  }

  test("shingles produce n_tokens - k + 1 entries, whole text when short") {
    val df = Seq((1L, "a b c d e"), (2L, "a b")).toDF("id", "text")
      .select(col("id"), Dedup.shingles(Dedup.tokens(col("text")), 3).as("sh"))
    val m = df.collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(m(1L) == Seq("a b c", "b c d", "c d e"))
    assert(m(2L) == Seq("a b"))
  }

  test("connected components: transitive chains collapse to one cluster") {
    import spark.implicits._
    // chain 1-2, 2-3 (transitive: 1~3 never paired directly) + island 7-8
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp(1L) == 1L && comp(2L) == 1L && comp(3L) == 1L)
    assert(comp(7L) == 7L && comp(8L) == 7L)
  }

  test("connected components: long chain converges in O(log diameter) rounds") {
    import spark.implicits._
    // 40-edge chain: min-label alone needs 40 rounds; with pointer doubling
    // maxIter = 8 must suffice (2^8 >> 41)
    val pairs = (1L to 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs, maxIter = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 41L).forall(comp(_) == 1L))
  }

  test("connected components: throws instead of returning partial labels") {
    import spark.implicits._
    val pairs = (1L to 10L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalStateException] {
      Dedup.connectedComponents(pairs, maxIter = 1)
    }
  }

  test("connected components: a star around its min id converges in one round") {
    import spark.implicits._
    // pair-only clusters (every member paired with the cluster's lowest id)
    // are labelled in round 1, and the same round detects the fixed point
    val pairs = ((2L to 6L).map(i => (1L, i)) :+ ((7L, 8L))).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs, maxIter = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 6L).forall(comp(_) == 1L))
    assert(comp(7L) == 7L && comp(8L) == 7L)
  }

  test("simHash: degenerate hot bucket is capped, not quadratic") {
    import spark.implicits._
    // 1000 identical docs share one fingerprint; every band bucket holds the
    // same sorted id list, so the cap bounds expansion to C(cap, 2) pairs
    val dup = (1L to 1000L).map(i => (i, base)).toDF("doc_id", "text")
    val pairs = Dedup.simHashNearDups(dup, "text", "doc_id",
      maxHamming = 3, maxBucketSize = 50)
    assert(pairs.count() == 50L * 49 / 2)
  }

  test("dedupNearDuplicates keeps one representative per cluster + singletons") {
    val survivors = Dedup.dedupNearDuplicates(docs, "text", "doc_id",
        jaccardThreshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // 0/1/2 are one near-dup cluster → representative 0; 3 and 4 singletons
    assert(survivors == Set(0L, 3L, 4L))
  }

  test("blockedJaccardPairs: exact dups have jaccard 1.0") {
    val blocked = docs.withColumn("blk", lit("x"))
      .withColumn("len", length(col("text")))
    val pairs = Dedup.blockedJaccardPairs(blocked, "text", "doc_id",
        Seq("blk"), "len", maxLengthDelta = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((0L, 1L)) == 1.0)
    assert(pairs((0L, 2L)) > 0.7 && pairs((0L, 2L)) < 1.0)
  }
}
