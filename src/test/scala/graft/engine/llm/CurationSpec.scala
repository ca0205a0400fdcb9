package graft.engine.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession.{sfDir, spark}
import graft.engine.Tables

class CurationSpec extends AnyFunSuite {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sfDir)

  test("hashSample: fraction bounds, determinism, and ~10% mass") {
    assert(Curation.hashSample(docs, col("doc_id"), 1.0).count() == docs.count())
    assert(Curation.hashSample(docs, col("doc_id"), 0.0).count() == 0L)
    val s1 = Curation.hashSample(docs, col("doc_id"), 0.1).count()
    val s2 = Curation.hashSample(docs, col("doc_id"), 0.1).count()
    assert(s1 == s2, "identical membership on re-run")
    // mass check on a key set large enough that 3σ ≈ 0.64%
    val keys = spark.range(20000).toDF("doc_id")
    val frac = Curation.hashSample(keys, col("doc_id"), 0.1).count() / 20000.0
    assert(math.abs(frac - 0.1) < 0.01, s"expected ~10%, got $frac")
  }

  test("quantileFloor: exact regime keeps exactly the top (1-q) per group") {
    val scored = TextAnalysis.qualityScore(docs, "text")
    val out = Curation.quantileFloor(scored, "source", "quality",
      q = 0.25, k = 4096).cache()
    try {
      // reference: per-source ceil(q*n)-th smallest quality, then >=
      val ref = scored.select(col("source"), col("quality")).collect()
        .groupBy(_.getString(0)).map { case (src, rows) =>
          val vals = rows.map(_.getDouble(1)).sorted
          val thr = vals(math.ceil(0.25 * vals.length).toInt - 1)
          src -> rows.count(_.getDouble(1) >= thr)
        }
      val got = out.groupBy(col("source")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1).toInt).toMap
      assert(got == ref, s"survivor counts per source: $got vs $ref")
      // every group must keep at least one row, never all rows unless ties
      assert(out.count() < scored.count(),
        "a p25 floor must drop something on this corpus")
    } finally out.unpersist()
  }

  test("quantileFloor accepts published thresholds and rejects bad q") {
    val scored = TextAnalysis.qualityScore(docs, "text")
    intercept[IllegalArgumentException] {
      Curation.quantileFloor(scored, "source", "quality", q = 0.0, k = 64)
    }
    // precomputed thresholds short-circuit the sketch scan
    val thr = Seq(("src0", 2.0)).toDF("source", "_thr")
    val out = Curation.quantileFloor(scored, "source", "quality",
      q = 0.5, k = 64, thresholds = Some(thr))
    assert(out.count() == 0L, "impossible threshold admits nothing")
    // DOCUMENTED drop semantics: caller-supplied thresholds define the
    // group universe (inner join) — a group with no threshold row is
    // dropped entirely, while a covered group keeps its qualifying rows.
    val one = scored.select(col("source")).distinct()
      .orderBy(col("source")).limit(1)
      .collect().head.getString(0)
    val partial = Seq((one, -1.0)).toDF("source", "_thr")
    val kept = Curation.quantileFloor(scored, "source", "quality",
      q = 0.5, k = 64, thresholds = Some(partial))
    assert(kept.select(col("source")).distinct().collect()
      .map(_.getString(0)).toSeq == Seq(one),
      "groups absent from the thresholds frame must be dropped (documented)")
    assert(kept.count() ==
      scored.filter(col("source") === one).count(),
      "-inf-style threshold keeps the covered group whole")
  }

  test("contrastivePairs: anchors are the non-representative duplicates, " +
      "negatives exist, never share the anchor's class, and re-draw " +
      "identically") {
    // ids 0..5; 3 and 4 duplicate 0's text; 5 duplicates 1's
    val corpus = Seq(
      (0L, "alpha beta gamma"), (1L, "delta epsilon"), (2L, "zeta eta"),
      (3L, "alpha beta gamma"), (4L, "  ALPHA beta GAMMA  "),
      (5L, "delta epsilon")).toDF("doc_id", "text")
    val span = 6L
    val pairs = Curation.contrastivePairs(corpus, "text", "doc_id",
      negativesPerAnchor = 3, negIdSpan = Some(span)).cache()
    try {
      val rows = pairs.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      // REFERENCE: replicate the documented construction exactly —
      // md5("anchor:j") hex-prefix-15 (60 bits) as integer mod span,
      // keep draws that exist and don't share the anchor's normalized
      // content
      val texts = corpus.collect()
        .map(r => r.getLong(0) -> r.getString(1).trim.toLowerCase).toMap
      def draw(anchor: Long, j: Int): Long = {
        val md = java.security.MessageDigest.getInstance("MD5")
        val hex = md.digest(s"$anchor:$j".getBytes("UTF-8"))
          .map(b => f"${b & 0xff}%02x").mkString.take(15)
        java.lang.Long.parseLong(hex, 16) % span
      }
      val expected = (for {
        (anchor, pos) <- Seq((3L, 0L), (4L, 0L), (5L, 1L))
        j <- 0 until 3
        neg = draw(anchor, j)
        if texts.contains(neg) && texts(neg) != texts(anchor)
      } yield (anchor, pos, neg, j.toLong)).sorted
      assert(rows.sorted.toSeq == expected,
        s"got ${rows.toList} want $expected")
      assert(expected.nonEmpty, "fixture must yield at least one triple")
      // deterministic re-draw
      val again = Curation.contrastivePairs(corpus, "text", "doc_id",
          negativesPerAnchor = 3, negIdSpan = Some(span)).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(rows.sorted.toSeq == again.sorted.toSeq)
      // degenerate: no duplicate classes -> no pairs
      assert(Curation.contrastivePairs(
        corpus.filter(col("doc_id") < 3), "text", "doc_id").count() == 0L)
    } finally pairs.unpersist()
  }

  test("hardNegativePairs: class collisions excluded, re-rank by " +
      "(cosine desc, id asc), top-n per anchor, anchors without " +
      "candidates drop") {
    // ids 0..5; 3 and 4 duplicate 0's text; 5 duplicates 1's
    val corpus = Seq(
      (0L, "alpha beta gamma"), (1L, "delta epsilon"), (2L, "zeta eta"),
      (3L, "alpha beta gamma"), (4L, "  ALPHA beta GAMMA  "),
      (5L, "delta epsilon")).toDF("doc_id", "text")
    // anchors are 3, 4 (class of 0) and 5 (class of 1); hand-built probe
    // rankings: anchor 3 sees its own class members 0 and 4 at cos 1.0
    // (must be excluded), then 1, 2, 5; anchor 4 sees 2 and 5 tied (id
    // tie-break); anchor 5 sees only same-class docs -> drops entirely
    val neighbors = Seq(
      (3L, 0L, 1.0), (3L, 4L, 1.0), (3L, 2L, 0.9), (3L, 1L, 0.8),
      (3L, 5L, 0.8),
      (4L, 2L, 0.7), (4L, 5L, 0.7),
      (5L, 1L, 1.0)).toDF("qid", "nid", "cosine")
    val got = Curation.hardNegativePairs(corpus, "text", "doc_id",
        neighbors, negativesPerAnchor = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._4))
    // anchor 3 (pos 0): same-class 0 and 4 excluded; then 2 (0.9) rank 1,
    // tie at 0.8 between 1 and 5 -> id asc keeps 1 at rank 2
    // anchor 4 (pos 0): tie at 0.7 -> 2 then 5
    // anchor 5 (pos 1): its only candidate 1 shares its class -> no rows
    assert(got.toSeq == Seq(
      (3L, 0L, 2L, 1L), (3L, 0L, 1L, 2L),
      (4L, 0L, 2L, 1L), (4L, 0L, 5L, 2L)),
      s"got ${got.toList}")
  }

  test("hashSample composes: sample(a ∪ b) == sample(a) ∪ sample(b)") {
    val a = docs.filter(col("doc_id") % 2 === 0)
    val b = docs.filter(col("doc_id") % 2 === 1)
    val whole = Curation.hashSample(docs, col("doc_id"), 0.2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val parts = (Curation.hashSample(a, col("doc_id"), 0.2)
        .select("doc_id").collect() ++
      Curation.hashSample(b, col("doc_id"), 0.2)
        .select("doc_id").collect()).map(_.getLong(0)).toSet
    assert(whole == parts)
  }

  test("corpusFilter: survivors are deduped, english-predicted, in token bounds") {
    val out = Curation.corpusFilter(docs).cache()
    try {
      assert(out.count() > 0, "sf fixture must keep some docs")
      assert(out.filter(col("lang_pred") =!= "en").count() == 0)
      assert(out.filter(!col("n_tokens").between(20, 5000)).count() == 0)
      assert(out.filter(col("quality") < 0.5).count() == 0)
      // survivors' ids are a subset of exact-dedup survivors
      val dedupIds = Dedup.exactDedup(docs, "text", "doc_id")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val kept = out.select("doc_id").collect().map(_.getLong(0))
      assert(kept.forall(dedupIds.contains))
    } finally out.unpersist()
  }

  test("packSequences partitions the corpus: every doc in exactly one pack") {
    val packs = Curation.packSequences(docs, "doc_id", "text", 2048L,
      shardCols = Seq("source")).cache()
    try {
      assert(packs.agg(sum("n_docs")).head.getLong(0) == docs.count())
      val totalTok = docs
        .select(TextAnalysis.tokenCount(col("text")).as("t"))
        .agg(sum("t")).head.getLong(0)
      assert(packs.agg(sum("sum_tokens")).head.getLong(0) == totalTok)
      // packs within a shard are contiguous: first_doc strictly increases
      // with pack_id
      val bySource = packs.select("source", "pack_id", "first_doc").collect()
        .groupBy(_.getString(0))
      bySource.values.foreach { rows =>
        val sorted = rows.sortBy(_.getLong(1))
        assert(sorted.map(_.getLong(2)).sliding(2).forall {
          case Array(x, y) => x < y
          case _ => true
        })
      }
    } finally packs.unpersist()
  }

  test("mixtureSample: weight-1 sources keep everything, weight-0 nothing, rest by hash") {
    val out = Curation.mixtureSample(docs, col("doc_id"), col("source"),
      Map("src0" -> 1.0, "src1" -> 0.0), defaultFraction = 0.1).cache()
    try {
      val src0Total = docs.filter(col("source") === "src0").count()
      assert(out.filter(col("source") === "src0").count() == src0Total)
      assert(out.filter(col("source") === "src1").count() == 0L)
      // the default-rate sources agree with plain hashSample membership
      val rest = out.filter(col("source") =!= "src0")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val expected = Curation.hashSample(
          docs.filter(col("source") =!= "src0" && col("source") =!= "src1"),
          col("doc_id"), 0.1)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(rest == expected)
    } finally out.unpersist()
  }

  test("temperatureSample: monotone in c, flattens toward small sources, " +
      "membership is hashSample's at the derived rate") {
    val census = docs.groupBy(col("source")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val low = Curation.temperatureSample(docs, col("doc_id"), col("source"), 2.0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val high = Curation.temperatureSample(docs, col("doc_id"), col("source"), 4.0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(low.subsetOf(high),
      "a larger scale must only ADD members (threshold monotone in rate)")
    // per-source membership == plain hashSample at round(min(1, c/sqrt(n)), 4)
    census.foreach { case (s, n) =>
      val expected = Curation.hashSample(docs.filter(col("source") === s),
          col("doc_id"), Curation.temperatureRate(2.0, n))
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val got = low.intersect(
        docs.filter(col("source") === s)
          .select("doc_id").collect().map(_.getLong(0)).toSet)
      assert(got == expected, s"source $s membership must be hashSample's")
    }
    // flattening: the keep RATE of the largest source never exceeds that of
    // the smallest (alpha < 1 downsamples dominance)
    val (smallest, largest) =
      (census.minBy(_._2), census.maxBy(_._2))
    assert(Curation.temperatureRate(2.0, largest._2) <=
      Curation.temperatureRate(2.0, smallest._2))
  }

  test("temperatureSample: null-source rows are excluded, not NPE'd") {
    val mixed = Seq((1L, "a"), (2L, "a"), (3L, null.asInstanceOf[String]),
      (4L, "b")).toDF("doc_id", "source")
    val out = Curation.temperatureSample(mixed, col("doc_id"), col("source"), 10.0)
    // c=10 >> sqrt(n) for every census source → rate 1.0: every NON-null
    // source row survives; the null-source row is excluded by contract
    assert(out.collect().map(_.getLong(0)).toSet == Set(1L, 2L, 4L))
  }

  test("contamination: planted benchmark doc is fully contaminated, others untouched") {
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"),
      (11L, "one two three four five six seven eight nine ten eleven twelve thirteen fourteen")
    ).toDF("doc_id", "text")
    // benchmark shares doc 10's text verbatim (plus an unrelated doc)
    val bench = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"),
      (1L, "totally different words entirely here nothing shared with anyone at all today ok fine")
    ).toDF("doc_id", "text")
    val out = Curation.contamination(corpus, bench, "text", "doc_id", n = 13)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(10L) == ((2L, 2L, 1.0)), "14 tokens -> two 13-grams, both leaked")
    assert(out(11L)._2 == 0L && out(11L)._3 == 0.0)
  }

  test("contaminationBucketed == contamination on the real corpus, and " +
      "the published benchmark side joins with exactly ONE exchange " +
      "(the batch)") {
    import graft.engine.relational.Bucketed
    val docs = graft.engine.Tables.documents(spark, graft.SparkTestSession.sfDir)
    val bench = docs.filter(col("doc_id") < 25)
    val batch = docs.filter(col("doc_id") >= 25)
    val published = Curation.publishBenchmarkNgrams(bench, "text",
      graft.engine.Artifacts.table("spec_benchng", s"${System.nanoTime()}"),
      n = 13)
    val viaStore = Curation.contaminationBucketed(
        batch, published, "text", "doc_id", n = 13)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    val viaBroadcast = Curation.contamination(
        batch, bench, "text", "doc_id", n = 13)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(viaStore == viaBroadcast,
      "published-store variant must reproduce the broadcast answer")
    // layout contract: the frozen side contributes no exchange — the
    // join stage's only shuffle is the ingest batch
    val joined = Curation.contaminationJoin(
      batch, published, "text", "doc_id", n = 13)
    assert(Bucketed.shuffleCount(joined) == 1,
      "expected exactly the batch-side exchange")
  }

  test("shuffleShards: deterministic repartition-stable assignment; " +
      "writeShards emits one sorted directory per shard whose membership " +
      "matches the assignment") {
    val docs = graft.engine.Tables
      .documents(spark, graft.SparkTestSession.sfDir)
      .select(col("doc_id"), col("text"))
    val assigned = Curation.shuffleShards(docs, "doc_id", nShards = 4)
      .select(col("doc_id"), col("shard_id"), col("shuffle_key"))
    val a1 = assigned.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    // repartition-stable: the assignment is a pure per-row function
    val a2 = Curation.shuffleShards(docs.repartition(7), "doc_id", 4)
      .select(col("doc_id"), col("shard_id"), col("shuffle_key"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2))))
      .toMap
    assert(a1 == a2, "assignment must not depend on partitioning")
    assert(a1.values.map(_._1).toSet.subsetOf((0L until 4L).toSet))
    assert(a1.values.map(_._1).toSet.size == 4, "all shards populated")
    val out = java.nio.file.Files.createTempDirectory("shards").toString
    Curation.writeShards(docs, "doc_id", nShards = 4, out)
    (0L until 4L).foreach { s =>
      val dir = s"$out/shard_id=$s"
      val rows = spark.read.parquet(dir)
        .select(col("doc_id"), col("shuffle_key")).collect()
        .map(r => (r.getLong(0), r.getString(1)))
      assert(rows.map(_._1).toSet ==
        a1.filter(_._2._1 == s).keySet, s"shard $s membership")
      // the directory IS the training order: file rows ascend by key
      assert(rows.map(_._2).toSeq == rows.map(_._2).sorted.toSeq,
        s"shard $s must be written sorted by shuffle_key")
    }
  }

  test("publishBenchmarkNgrams publishes once per name") {
    val table = graft.engine.Artifacts.table("spec_once", s"${System.nanoTime()}")
    val a = Seq((1L, "one two three four five six seven eight nine ten " +
      "eleven twelve thirteen")).toDF("doc_id", "text")
    Curation.publishBenchmarkNgrams(a, "text", table, n = 13)
    val first = spark.table(table).collect().map(_.getString(0)).toSet
    assert(first.nonEmpty)
    // a DIFFERENT benchmark frame must be ignored while the store exists
    val b = Seq((2L, "totally different words in this benchmark doc here " +
      "and more of them again ok")).toDF("doc_id", "text")
    Curation.publishBenchmarkNgrams(b, "text", table, n = 13)
    assert(spark.table(table).collect().map(_.getString(0)).toSet == first,
      "existing store must be left untouched (the skip IS the contract)")
  }

  test("packFixedSequences: single-shard pinned fixture — exact cuts, " +
      "straddling doc boundaries, short tail, zero-token doc invisible") {
    // md5 order of ids 1..4: md5('3')=ecc... > md5('2')=c81... >
    // md5('4')=a87... > md5('1')=c4c... — compute the order here rather
    // than hard-coding it, then pin the packed stream against it
    val units = Seq(
      (1L, Seq(10L, 11L, 12L)),          // 3 tokens
      (2L, Seq(20L, 21L, 22L, 23L, 24L)), // 5 tokens — will straddle
      (3L, Seq(30L)),                     // 1 token
      (4L, Seq.empty[Long])               // zero tokens — invisible
    ).toDF("doc_id", "ids")
    val got = Curation.packFixedSequences(units, "doc_id", "ids",
        nShards = 1, seqLen = 4)
      .orderBy(col("seq_idx"))
      .collect()
    def md5of(i: Long) = java.security.MessageDigest.getInstance("MD5")
      .digest(i.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val order = Seq(1L, 2L, 3L).sortBy(md5of)
    val byId = Map(1L -> Seq(10L, 11L, 12L), 2L -> Seq(20L, 21L, 22L, 23L, 24L),
      3L -> Seq(30L))
    val stream = order.flatMap(byId)
    // 9 tokens at seqLen 4 -> sequences of 4, 4, 1
    assert(got.length == 3)
    val packedIds = got.map(_.getSeq[Long](2))
    assert(packedIds.map(_.length).toSeq == Seq(4, 4, 1))
    assert(packedIds.flatten.toSeq == stream, "shard stream must be the " +
      "md5-ordered concatenation, cut at exact seqLen boundaries")
    // boundary offsets: a doc starting at global position g appears in
    // sequence g/4 at offset g%4; doc 4 (zero tokens) never appears
    val starts = order.zip(order.scanLeft(0L)((a, d) => a + byId(d).length))
    starts.foreach { case (d, g) =>
      val row = got((g / 4).toInt)
      val offs = row.getSeq[Long](3)
      val dids = row.getSeq[Long](4)
      val i = offs.indexOf(g % 4)
      assert(i >= 0 && dids(i) == d, s"doc $d must start at offset ${g % 4} " +
        s"of sequence ${g / 4}")
    }
    assert(!got.flatMap(_.getSeq[Long](4)).contains(4L),
      "zero-token doc must be invisible in the artifact")
    // a sequence wholly inside a straddling doc has no starts: none here
    // (9 tokens, every seq has a start) — pin instead on the real corpus
    val docs = Tables.documents(spark, sfDir)
      .limit(60).select(col("doc_id"),
        graft.engine.llm.Tokenizer.tokenIds(col("text"),
          Array("the", "and")).as("ids"))
    val packed = Curation.packFixedSequences(docs, "doc_id", "ids",
      nShards = 2, seqLen = 128)
    val perShard = packed.groupBy(col("shard_id"))
      .agg(max(col("seq_idx")).as("mx"), count(lit(1)).as("n"),
        sum(col("n_tokens")).cast("long").as("tok"),
        sum(when(col("n_tokens") === 128L, 1L).otherwise(0L)).as("full"))
      .collect()
    val tokPerShard = Curation.shuffleShards(
        docs.select(col("doc_id"), size(col("ids")).cast("long").as("n")),
        "doc_id", 2)
      .groupBy(col("shard_id")).agg(sum(col("n")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perShard.nonEmpty)
    perShard.foreach { r =>
      val (mx, n, tok, full) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(mx == n - 1, "seq_idx must be contiguous 0..n-1 per shard")
      assert(full >= n - 1,
        "every sequence but a shard's tail must be exactly seqLen")
      assert(tok == tokPerShard(r.getLong(0)),
        "packing must conserve the shard's token mass")
    }
  }

  test("shardOccupancy: a deliberately skewed corpus surfaces the whale — " +
      "telemetry totals reconcile with the pack and name the oversize unit") {
    // 99 one-token units + one 10_000-token whale: the md5 draw is
    // uniform over UNITS, so the whale's shard dwarfs the rest — the
    // exact situation the nShards sizing rule (shards ≈ corpus_tokens /
    // target_shard_tokens) cannot fix and the telemetry must surface.
    val units = spark.range(0, 101).select(col("id").as("uid"),
      when(col("id") === 42L, expr("array_repeat(7L, 10000)"))
        // unit 100 is ZERO-token: packFixedSequences excludes it, so the
        // telemetry must too (it is not reducer load)
        .when(col("id") === 100L, expr("array()").cast("array<long>"))
        .otherwise(array(lit(1L))).as("ids"))
    val occ = Curation.shardOccupancy(units, "uid", "ids", nShards = 8)
      .collect()
    // one aggregation row per non-empty shard; totals conserve the
    // PACKABLE corpus (the zero-token unit is invisible, like the pack)
    assert(occ.map(_.getLong(1)).sum == 100L)
    assert(occ.map(_.getLong(2)).sum == 10000L + 99L)
    // heaviest-first ordering puts the whale's shard on top, and
    // max_unit_tokens identifies the problem as ONE unit, not the draw
    val top = occ.head
    assert(top.getLong(2) >= 10000L && top.getLong(3) == 10000L,
      "the whale's shard must lead the report with max_unit_tokens " +
        "pinning the oversize unit")
    assert(occ.tail.forall(_.getLong(3) <= 1L))
    // the telemetry reconciles with what packFixedSequences would shuffle
    val packedTokens = Curation
      .packFixedSequences(units, "uid", "ids", nShards = 8, seqLen = 64)
      .agg(sum(col("n_tokens"))).head.getLong(0)
    assert(packedTokens == 10099L)
  }

  test("ensurePackedSequences: write-once per path — a second call with " +
      "DIFFERENT input must not clobber the published artifact") {
    val a = spark.range(0, 10).select(col("id").as("uid"),
      expr("array_repeat(1L, 10)").as("ids"))
    val b = spark.range(0, 20).select(col("id").as("uid"),
      expr("array_repeat(2L, 10)").as("ids"))
    val out = java.nio.file.Files.createTempDirectory("ensurepacked")
      .toString + "/packed"
    Curation.ensurePackedSequences(a, "uid", "ids", 2, 16, out)
    val first = spark.read.parquet(out).agg(sum(col("n_tokens")))
      .head.getLong(0)
    Curation.ensurePackedSequences(b, "uid", "ids", 2, 16, out)
    val second = spark.read.parquet(out).agg(sum(col("n_tokens")))
      .head.getLong(0)
    assert(first == 100L && second == 100L,
      "publish-if-absent must skip the second write")
  }

  test("writePackedSequences: one parquet directory per shard, rows in " +
      "seq_idx order, contents == packFixedSequences") {
    val docs = Tables.documents(spark, sfDir)
      .limit(40).select(col("doc_id"),
        graft.engine.llm.Tokenizer.tokenIds(col("text"),
          Array("the", "and")).as("ids"))
    val out = java.nio.file.Files.createTempDirectory("packed").toString
    Curation.writePackedSequences(docs, "doc_id", "ids", nShards = 2,
      seqLen = 64, out)
    val expect = Curation.packFixedSequences(docs, "doc_id", "ids", 2, 64)
      .select(col("shard_id"), col("seq_idx"), col("n_tokens")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = scala.collection.mutable.Set.empty[(Long, Long, Long)]
    (0L until 2L).foreach { sh =>
      val rows = spark.read.parquet(s"$out/shard_id=$sh")
        .select(col("seq_idx"), col("n_tokens")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.map(_._1).toSeq == rows.map(_._1).sorted.toSeq,
        s"shard $sh files must hold sequences in seq_idx order")
      rows.foreach { case (si, nt) => got += ((sh, si, nt)) }
    }
    assert(got.toSet == expect,
      "written shard contents must equal the packFixedSequences rows")
  }

  test("domainCap: never more than cap per domain, small domains intact, " +
      "survivor set repartition-stable") {
    val docs = graft.engine.Tables.documents(spark, graft.SparkTestSession.sfDir)
    val capped = Curation.domainCap(docs, "doc_id", "source", cap = 10)
    val perDomain = capped.groupBy(col("source")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perDomain.values.forall(_ <= 10L), s"cap violated: $perDomain")
    // a domain under the cap keeps every document
    val sizes = docs.groupBy(col("source")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    sizes.filter(_._2 <= 10L).foreach { case (s, n) =>
      assert(perDomain.getOrElse(s, 0L) == n, s"small domain $s lost docs")
    }
    // survivors are a pure function of (id, domain): repartition-stable
    val ids1 = capped.select("doc_id").collect().map(_.getLong(0)).toSet
    val ids2 = Curation.domainCap(docs.repartition(13), "doc_id", "source", 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2)
    intercept[IllegalArgumentException] {
      Curation.domainCap(docs, "doc_id", "source", 0)
    }
  }

  test("groupNtile == ntile window on a tie-heavy skewed fixture") {
    import org.apache.spark.sql.expressions.Window
    // skewed groups (g0 has 83 rows, g1 has 11, g2 has 2 — fewer rows than
    // tiles) and heavy ties (values drawn from just 5 levels)
    val rows = (0L until 96L).map { i =>
      val g = if (i < 83) "g0" else if (i < 94) "g1" else "g2"
      (i, g, (i % 5).toDouble / 10.0)
    }
    val df = rows.toDF("id", "g", "v")
    for (t <- Seq(2, 4, 7)) {
      val w = Window.partitionBy(col("g")).orderBy(col("v"), col("id"))
      val expected = df.withColumn("tier", ntile(t).over(w).cast("long"))
        .select("id", "tier").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val got = Curation.groupNtile(df, "g", "v", "id", t)
        .select("id", "tier").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"numTiles=$t")
    }
  }

  test("groupNtile on a 3dp-quantized continuous score: histogram bounded, " +
      "answer == ntile window") {
    import org.apache.spark.sql.expressions.Window
    // continuous scores (every row distinct before quantization) across 3
    // skewed groups — the q65 shape. Quantizing to 3dp must (a) bound the
    // histogram at <= groups * 1001 cells on a [0,1] score and (b) leave
    // the answer identical to the ntile window over the SAME quantized key.
    val rows = (0L until 20000L).map { i =>
      val g = if (i < 16000) "en" else if (i < 19000) "de" else "fr"
      (i, g, (i.toDouble * 0.9301 + 0.137) % 1.0) // continuous, all-distinct
    }
    val df = rows.toDF("id", "g", "score")
      .withColumn("q_bin", round(col("score"), 3))
    val histRows = df.select("g", "q_bin").distinct().count()
    assert(histRows <= 3L * 1001L,
      s"quantized histogram must stay bounded, got $histRows cells")
    // sanity: unquantized the histogram would be ~corpus-sized
    assert(df.select("g", "score").distinct().count() > 19000L)
    val w = Window.partitionBy(col("g")).orderBy(col("q_bin"), col("id"))
    val expected = df.withColumn("tier", ntile(4).over(w).cast("long"))
      .select("id", "tier").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Curation.groupNtile(df, "g", "q_bin", "id", 4)
      .select("id", "tier").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("groupNtile keeps NULL group and order values (null-safe joins), " +
      "matching the ntile window") {
    import org.apache.spark.sql.expressions.Window
    val rows: Seq[(Long, Option[String], Option[Double])] =
      (0L until 40L).map { i =>
        val g = if (i % 7 == 0) None else Some(s"g${i % 2}")
        val v = if (i % 5 == 0) None else Some((i % 4).toDouble)
        (i, g, v)
      }
    val df = rows.toDF("id", "g", "v")
    val w = Window.partitionBy(col("g")).orderBy(col("v"), col("id"))
    val expected = df.withColumn("tier", ntile(3).over(w).cast("long"))
      .select("id", "tier").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Curation.groupNtile(df, "g", "v", "id", 3)
      .select("id", "tier").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 40, "no row may vanish through the null-safe joins")
    assert(got == expected)
  }

  test("groupNtile covers every row exactly once") {
    val out = Curation.groupNtile(
      docs.select(col("doc_id"), col("lang"),
        (col("doc_id") % 3).cast("double").as("v")),
      "lang", "v", "doc_id", 4)
    assert(out.count() == docs.count())
    assert(out.select("doc_id").distinct().count() == docs.count())
  }

  test("tieredPack == composed groupNtile ⋈ packAssignments, with one fewer join") {
    // ties (5 score levels), null groups AND null scores, two shards — every
    // path groupNtile's null-safe joins and the straddling branch exercise
    val rows: Seq[(Long, Option[String], Option[Double], String, String)] =
      (0L until 120L).map { i =>
        val g = if (i % 11 == 0) None else Some(s"lang${i % 3}")
        val v = if (i % 13 == 0) None else Some((i % 5).toDouble / 10.0)
        (i, g, v, ("tok " * ((i % 7).toInt + 1)).trim, s"src${i % 2}")
      }
    val df = rows.toDF("doc_id", "lang", "q_bin", "text", "source")
    val fused = Curation.tieredPack(df, "lang", "q_bin", "doc_id", "text",
      numTiles = 4, budgetTokens = 10L, shardCols = Seq("source"))
    val composed = Curation.packAssignments(df, "doc_id", "text", 10L, Seq("source"))
      .join(Curation.groupNtile(df, "lang", "q_bin", "doc_id", 4)
        .select(col("doc_id"), col("tier")), Seq("doc_id"))
    def key(d: org.apache.spark.sql.DataFrame) =
      d.select("doc_id", "tier", "pack_id", "n_tokens").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
        .toMap
    val (f, c) = (key(fused), key(composed))
    assert(f.size == 120 && f == c, "fusion must be row-identical to the composition")
    // structural: the fusion deletes the corpus-sized doc_id re-union join;
    // only groupNtile's bounded histogram joins remain
    import org.apache.spark.sql.catalyst.plans.logical.Join
    def joins(d: org.apache.spark.sql.DataFrame) =
      d.queryExecution.optimizedPlan.collect { case j: Join => j }.length
    assert(joins(fused) == joins(composed) - 1,
      s"fused=${joins(fused)} composed=${joins(composed)}")
  }

  test("packAssignments refuses the unsharded global window unless " +
      "explicitly allowed") {
    val tiny = (0L until 4L).map(i => (i, "a b c", "s"))
      .toDF("doc_id", "text", "source")
    val e = intercept[IllegalArgumentException] {
      Curation.packAssignments(tiny, "doc_id", "text", 10L)
    }
    assert(e.getMessage.contains("shardCols"))
    intercept[IllegalArgumentException] {
      Curation.packSequences(tiny, "doc_id", "text", 10L)
    }
    // the explicit small-input opt-in still works and packs correctly
    val packs = Curation.packSequences(tiny, "doc_id", "text", 6L,
      allowGlobalWindow = true).orderBy("pack_id").collect()
    assert(packs.map(_.getLong(1)).toSeq == Seq(2L, 2L))
  }

  test("packSequences: no pack starts beyond the running token budget") {
    // tiny synthetic corpus with known token counts: 10 docs × 5 tokens,
    // budget 12 ⇒ starting offsets 0,5,10,15,… ⇒ packs 0,0,0,1,1,2,2,2,3,3
    val tiny = (0L until 10L).map(i => (i, "a b c d e", "s"))
      .toDF("doc_id", "text", "source")
    val packs = Curation.packSequences(tiny, "doc_id", "text", 12L,
        shardCols = Seq("source"))
      .orderBy("pack_id").collect()
    assert(packs.map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq ==
      Seq((0L, 3L, 15L), (1L, 2L, 10L), (2L, 3L, 15L), (3L, 2L, 10L)))
  }
}
