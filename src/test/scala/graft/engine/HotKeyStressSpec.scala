package graft.engine

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.graft.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession.spark
import graft.engine.llm.{Curation, Dedup, TopK}
import graft.engine.relational.Salting

/** Planted-skew RUNTIME stress for the hot-key operators.
  *
  * PlanShapeSpec/PlanAudit check plan SHAPES; this suite checks the runtime
  * claim those shapes exist to serve: with a ~10^6-row hot key, no single
  * task of the bounded formulations ever ingests the hot key's full row set
  * through a shuffle, while the naive window/SMJ formulations demonstrably
  * do (each naive case is asserted to FAIL the bound — proving the detector
  * would catch a regression to the naive plan).
  *
  * Measurement: a SparkListener records the MAX per-task
  * `shuffleReadMetrics.recordsRead` across every stage of the measured
  * action — exactly the "one reducer eats the hot key" failure mode. AQE is
  * disabled for the suite so the naive join case can't be rescued by
  * runtime skew-splitting (the bounded operators must not need it), and
  * shuffle partitions are raised to 32 so "bounded" means "scales out with
  * partitions", not "local[4] hid it".
  */
class HotKeyStressSpec extends AnyFunSuite {

  private val hotRows = 900000L
  private val tailRows = 100000L
  private val nDomains = 50 // tail domains, 2 000 rows each

  /** 10^6 rows: 90% in domain "hot", the rest spread over 50 domains.
    * `score` is quantized to 2 000 distinct values (groupNtile's documented
    * contract for near-continuous keys). Persisted so measured actions see
    * only their own shuffles, not the fixture build. */
  private lazy val skewed: DataFrame = {
    val df = spark.range(hotRows + tailRows)
      .select(col("id"),
        when(col("id") < hotRows, lit("hot"))
          .otherwise(concat(lit("d"), pmod(col("id"), lit(nDomains))))
          .as("domain"),
        (pmod(xxhash64(col("id")), lit(2000)) / lit(1000.0)).as("score"))
      .persist()
    df.count()
    df
  }

  /** Max per-task shuffle-read BYTES — the aggregation-buffer detector:
    * an uncapped collector's partial buffers carry the full hot bucket's
    * members through the exchange, so the merging task's byte ingest scales
    * with bucket size; a partial-aggregating capped collector's partials
    * are <= cap rows each regardless of bucket size. */
  private def maxTaskShuffleBytes(action: => Unit): Long = {
    val max = new AtomicLong(0L)
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          max.accumulateAndGet(m.shuffleReadMetrics.totalBytesRead, Math.max(_, _))
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      action
      ListenerBridge.drainListenerBus(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    max.get()
  }

  /** TOTAL shuffle records read across all tasks — the exchange-volume
    * detector: a plan that materializes a multiplied intermediate (e.g.
    * join fan-out) and shuffles it again reads it back here. */
  private def totalShuffleRead(action: => Unit): Long = {
    val total = new AtomicLong(0L)
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) total.addAndGet(m.shuffleReadMetrics.recordsRead)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      action
      ListenerBridge.drainListenerBus(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    total.get()
  }

  private def maxTaskShuffleRead(action: => Unit): Long = {
    val max = new AtomicLong(0L)
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          max.accumulateAndGet(m.shuffleReadMetrics.recordsRead, Math.max(_, _))
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      action
      ListenerBridge.drainListenerBus(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    max.get()
  }

  private def withStressConf[T](extra: (String, String)*)(f: => T): T = {
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.adaptive.enabled") ++ extra.map(_._1)
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    extra.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  // ---- detector sanity: the naive formulations MUST trip the bound ----

  test("naive rank window funnels the hot domain through one task") {
    withStressConf() {
      val w = Window.partitionBy("domain").orderBy("id")
      // NOTE: a `row_number <= k` FILTER is auto-rescued by Spark 4's
      // WindowGroupLimit rewrite (partial top-k before the exchange — we
      // measured 500 rows/task), so the top-k-per-key window is no longer
      // naive. The UNFILTERED rank (rank column kept in the output) admits
      // no such rewrite and still funnels the hot key — that is the shape
      // this detector must catch.
      val m = maxTaskShuffleRead {
        skewed.withColumn("rn", row_number().over(w))
          .groupBy("domain").agg(max("rn")).collect()
      }
      assert(m >= hotRows,
        s"expected the naive window's hot task to read >= $hotRows rows, " +
          s"measured $m — detector would miss a naive regression")
    }
  }

  test("naive ntile window funnels the hot domain through one task") {
    withStressConf() {
      val w = Window.partitionBy("domain").orderBy("score", "id")
      val m = maxTaskShuffleRead {
        skewed.withColumn("tier", ntile(4).over(w))
          .groupBy("tier").count().collect()
      }
      assert(m >= hotRows, s"naive ntile hot task read $m, expected >= $hotRows")
    }
  }

  // ---- bounded formulations: correct answer AND bounded per-task reads ----

  test("domainCap: per-task shuffle reads stay at partial-agg scale") {
    withStressConf() {
      var n = -1L
      val m = maxTaskShuffleRead {
        n = Curation.domainCap(skewed, "id", "domain", 100).count()
      }
      // hot capped at 100; each of the 50 tail domains (2 000 rows) too
      assert(n == 100L * (nDomains + 1), s"unexpected survivor count $n")
      // the exchange carries MinKAggregator partials (<= inputPartitions
      // buffer rows per domain), never corpus rows; the join back is a
      // broadcast semi-join with no shuffle at all
      val bound = 32L * (nDomains + 1)
      assert(m <= bound,
        s"domainCap max per-task shuffle read $m exceeds partial-agg bound $bound")
    }
  }

  test("groupNtile: matches the ntile window, per-task reads bounded") {
    withStressConf() {
      val w = Window.partitionBy("domain").orderBy("score", "id")
      val expected = skewed
        .withColumn("tier", ntile(4).over(w).cast("long"))
        .groupBy("domain", "tier").count()
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      var got: Map[(String, Long), Long] = Map.empty
      val m = maxTaskShuffleRead {
        got = Curation.groupNtile(skewed, "domain", "score", "id", 4)
          .groupBy("domain", "tier").count()
          .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
          .toMap
      }
      assert(got == expected, "groupNtile diverged from the ntile window")
      // largest legitimate per-task ingest: the corpus join-back hashed on
      // (group, orderVal) — ~corpus/partitions, plus a straddling tie class
      // (~hot/2000 rows). An order of magnitude under the naive window's
      // hot-task read; scales out with partitions where the naive can't.
      val bound = (hotRows + tailRows) / 32 * 4
      assert(m <= bound,
        s"groupNtile max per-task shuffle read $m exceeds bound $bound " +
          s"(naive window reads $hotRows in one task)")
    }
  }

  test("plain SMJ join funnels the hot key; saltedJoin spreads it") {
    withStressConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      import spark.implicits._
      val dim = ("hot" +: (0 until nDomains).map("d" + _))
        .map(d => (d, s"meta_$d")).toDF("domain", "meta")
      val mNaive = maxTaskShuffleRead {
        assert(skewed.join(dim, Seq("domain")).count() == hotRows + tailRows)
      }
      assert(mNaive >= hotRows,
        s"expected naive SMJ hot task to read >= $hotRows rows, got $mNaive " +
          "(detector would miss a naive regression)")
      val mSalted = maxTaskShuffleRead {
        assert(Salting.saltedJoin(skewed, dim, "domain", col("id"), 32)
          .count() == hotRows + tailRows)
      }
      // hot key spread over 32 (key, salt) buckets: per-task ingest drops
      // from hot-key-size to ~corpus/partitions
      val bound = (hotRows + tailRows) / 32 * 4
      assert(mSalted <= bound,
        s"saltedJoin max per-task shuffle read $mSalted exceeds bound $bound " +
          s"(naive SMJ reads $mNaive)")
    }
  }

  // ---- hot-bucket collectors: capped partials vs full-list buffering ----

  test("collect_list-then-slice buffers the full hot bucket; cappedIds bounds it") {
    withStressConf() {
      // one degenerate 2*10^5-member bucket + 50 small tail buckets, ids
      // hashed so the shuffled partial lists don't lz4-compress away the
      // byte signal the detector reads
      val n = 200000L
      val hot = spark.range(n + 50L * 100)
        .select(when(col("id") < n, lit(0L))
            .otherwise(pmod(col("id"), lit(50)) + 1).as("bucket"),
          xxhash64(col("id")).as("id"))
        .persist()
      hot.count()
      try {
        val cap = 100
        var naiveRows: Array[(Long, Seq[Long])] = Array.empty
        val mNaive = maxTaskShuffleBytes {
          naiveRows = hot.groupBy(col("bucket"))
            .agg(slice(sort_array(collect_list(col("id"))), 1, cap).as("ids"))
            .collect().map(r => r.getLong(0) -> r.getSeq[Long](1))
        }
        // the old collector's partial lists carry every hot-bucket member
        // to the merging task: ~200k * 8 B raw; must trip the bound or the
        // detector would miss a regression back to it
        assert(mNaive >= 512L * 1024,
          s"expected the uncapped collector's hot task to read >= 512 KiB, " +
            s"measured $mNaive — detector would miss a naive regression")
        var cappedRows: Array[(Long, Seq[Long])] = Array.empty
        val mCapped = maxTaskShuffleBytes {
          cappedRows = hot.groupBy(col("bucket"))
            .agg(TopK.cappedIds(cap, col("id")).as("ids"))
            .collect().map(r => r.getLong(0) -> r.getSeq[Long](1))
        }
        assert(cappedRows.toMap == naiveRows.toMap,
          "cappedIds diverged from the collect_list-then-slice answer")
        // partials are <= cap ids each: <= 32 partitions * 51 buckets * ~1 KiB
        val bound = 256L * 1024
        assert(mCapped <= bound,
          s"cappedIds max per-task shuffle bytes $mCapped exceeds $bound " +
            s"(uncapped collector reads $mNaive)")
      } finally hot.unpersist()
    }
  }

  test("minHash/simHash near-dups survive a planted 10^5-duplicate cluster") {
    withStressConf() {
      import spark.implicits._
      // 10^5 identical documents (the degenerate template cluster the
      // bucket cap exists for) + a distinct tail; every band bucket goes
      // hot. The capped collectors must complete without funneling the
      // full cluster through one aggregation task.
      val nDup = 100000
      val docs = spark.range(nDup + 1000)
        .select(col("id"),
          when(col("id") < nDup,
            lit("the quick brown fox jumps over the lazy dog again and again"))
            // tail: 8 random hex words per doc — pairwise-disjoint shingles
            // and far-apart fingerprints, so no tail pair can leak into the
            // planted cluster's expected counts
            .otherwise(concat_ws(" ", (0 until 8).map(k =>
              hex(xxhash64(col("id"), lit(k)))): _*))
            .as("text"))
        .persist()
      docs.count()
      try {
        val cap = 100
        val expectedPairs = cap.toLong * (cap - 1) / 2 // survivors pair fully
        val mMin = maxTaskShuffleBytes {
          val pairs = Dedup.minHashNearDups(docs, "text", "id",
              maxBucketSize = cap)
            .agg(count(lit(1)), min(col("jaccard"))).collect()
          assert(pairs(0).getLong(0) == expectedPairs,
            s"minHash planted-cluster pair count ${pairs(0).getLong(0)} != $expectedPairs")
          assert(pairs(0).getDouble(1) == 1.0, "identical docs must have J=1.0")
        }
        val mSim = maxTaskShuffleBytes {
          val pairs = Dedup.simHashNearDups(docs, "text", "id",
              maxBucketSize = cap)
            .agg(count(lit(1)), max(col("hamming"))).collect()
          assert(pairs(0).getLong(0) == expectedPairs,
            s"simHash planted-cluster pair count ${pairs(0).getLong(0)} != $expectedPairs")
          assert(pairs(0).getLong(1) == 0L, "identical docs must be Hamming-0")
        }
        // generous envelope: the shingle-verify / fingerprint joins hash
        // the corpus evenly (~corpus/partitions rows per task); what must
        // NOT appear is a task ingesting the full 10^5-member bucket list
        // (raw >= 800 KiB per band in one buffer before this fix)
        val bound = 8L * 1024 * 1024
        assert(mMin <= bound, s"minHash hot-cluster max task bytes $mMin > $bound")
        assert(mSim <= bound, s"simHash hot-cluster max task bytes $mSim > $bound")
      } finally docs.unpersist()
    }
  }

  test("overflowStars: full dedup connectivity over a hot bucket at O(n) pairs") {
    withStressConf() {
      // 10^5 identical docs + distinct tail, cap 100: the capped pair list
      // sees only C(100,2) pairs, so 99 900 cluster members are invisible
      // to CC-based dedup. overflowStars adds one (hub, member) edge per
      // overflow-bucket member — linear, bufferless — and must restore
      // full-cluster connectivity while staying at bounded per-task bytes.
      val nDup = 100000
      val docs = spark.range(nDup + 1000)
        .select(col("id"),
          when(col("id") < nDup,
            lit("the quick brown fox jumps over the lazy dog again and again"))
            .otherwise(concat_ws(" ", (0 until 8).map(k =>
              hex(xxhash64(col("id"), lit(k)))): _*))
            .as("text"))
        .persist()
      docs.count()
      try {
        val cap = 100
        val t0 = System.nanoTime()
        var starPairs = 0L
        val mStar = maxTaskShuffleBytes {
          starPairs = Dedup.minHashNearDups(docs, "text", "id",
            maxBucketSize = cap, overflowStars = true).count()
        }
        val starSec = (System.nanoTime() - t0) / 1e9
        // C(100,2) capped pairs + one star edge per member outside the
        // capped hub pairs: hub 0 already pairs with ids 1..99
        val expected = cap.toLong * (cap - 1) / 2 + (nDup - cap)
        assert(starPairs == expected,
          s"star-augmented pair count $starPairs != $expected")
        // connectivity: every member appears in some pair => CC dedup
        // recall is total. Verified structurally: hub 0 pairs with all.
        val pairs = Dedup.minHashNearDups(docs, "text", "id",
            maxBucketSize = cap, overflowStars = true)
        val touched = pairs.select(explode(array(col("id_a"), col("id_b"))).as("m"))
          .agg(countDistinct(col("m"))).collect()(0).getLong(0)
        assert(touched == nDup.toLong,
          s"star edges must touch every cluster member ($touched != $nDup)")
        val bound = 32L * 1024 * 1024 // verify join carries 10^5 pairs' shingles
        assert(mStar <= bound, s"overflowStars max task bytes $mStar > $bound")
        info(f"overflowStars on 10^5-dup cluster: $starSec%.2f s, " +
          f"max task shuffle ${mStar / 1024 / 1024}%d MiB")
      } finally docs.unpersist()
    }
  }

  test("as-of at large fan-in: composed plan computes LxR intermediates, merge-scan doesn't") {
    withStressConf() {
      import graft.engine.relational.AsOf
      // ONE hot key: 5 000 right rows, 500 left rows. Spark 4's
      // WindowGroupLimit saves the composed plan's SHUFFLE (the rank
      // filter prunes map-side — measured: only ~1.2k records cross the
      // window exchange), but the equi-join still COMPUTES every
      // left×matching-right intermediate (~1.25M rows through the join
      // operator) before the limit discards them. The merge walk never
      // forms them: its one exchange carries each input row exactly once.
      val nRight = 5000L
      val nLeft = 500L
      val left = spark.range(nLeft)
        .select(col("id").as("event_id"), lit(1L).as("k"),
          (col("id") * 20 + 10).as("t"))
        .persist()
      val right = spark.range(nRight)
        .select(col("id").as("order_id"), lit(1L).as("k2"),
          (col("id") * 2).as("t2"))
        .persist()
      left.count(); right.count()
      try {
        def finalPlan(df: org.apache.spark.sql.DataFrame) =
          df.queryExecution.executedPlan match {
            case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
              a.executedPlan
            case p => p
          }
        val composed = AsOf.asofJoin(left, right,
            leftKey = col("k"), rightKey = col("k2"),
            leftTime = col("t"), rightTime = col("t2"),
            leftRowId = col("event_id"), tieBreak = col("order_id"))
          .select(col("event_id"), col("order_id"))
        val composedRows = composed.collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        // the quadratic intermediate, read off the join's own metric
        val joinOut = finalPlan(composed).collect {
          case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
        }.map(_.metrics("numOutputRows").value).sum
        var mergeRows: Set[(Long, Long)] = Set.empty
        val nMergeShuffle = totalShuffleRead {
          mergeRows = AsOf.asofJoinMerge(left, right,
              "k", "k2", "t", "t2", "order_id")
            .select(col("event_id"), col("order_id"))
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        }
        assert(mergeRows == composedRows, "merge-scan must equal the composed as-of")
        assert(composedRows.size == nLeft,
          "every left row has a match in this fixture")
        // detector sanity: the composed join really forms ~LxR/2 rows
        assert(joinOut >= nLeft * nRight / 10,
          s"expected the composed join to output ~LxR intermediates, got $joinOut")
        // merge: one exchange of L + R tagged rows (plus the tiny result)
        val mergeBound = (nLeft + nRight) * 4
        assert(nMergeShuffle <= mergeBound,
          s"merge-scan shuffle volume $nMergeShuffle exceeds $mergeBound")
        info(s"as-of fan-in 5000: composed join computed $joinOut intermediate " +
          s"rows; merge-scan shuffled $nMergeShuffle records total")
      } finally { left.unpersist(); right.unpersist() }
    }
  }

  test("repeatedSpansHashed on a 30k-doc template-heavy corpus with " +
      "broadcast DISABLED: exact spans, bounded per-task shuffle " +
      "(no text rides the window table)") {
    // 10k of 30k docs embed the SAME 60-char template between unique
    // md5 context — the boilerplate regime ExactSubstr exists for. The
    // template's 21 window keys each occur 10k times (hot keys), and
    // with broadcast off every join in the operator is forced to
    // sort-merge — the exact regime where a text-bearing window table
    // would shuffle each doc once per window.
    withStressConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      import graft.engine.llm.Dedup
      val template = ("ThisTemplateBlockRepeats!" * 3).take(60)
      val docs = spark.range(0L, 30000L)
        .select(col("id").as("doc_id"),
          concat(
            md5(concat(lit("p"), col("id").cast("string"))),
            when(col("id") % 3 === 0, lit(template))
              .otherwise(md5(concat(lit("m"), col("id").cast("string")))),
            md5(concat(lit("s"), col("id").cast("string")))).as("text"))
        .localCheckpoint()
      val t0 = System.nanoTime()
      var got: Array[(Long, Long, Long)] = null
      val maxBytes = maxTaskShuffleBytes {
        got = Dedup.repeatedSpansHashed(docs, "text", "doc_id", 40)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      }
      val sec = (System.nanoTime() - t0) / 1e9
      // every carrier doc gets exactly ONE span containing the template
      // region [32, 92). Boundaries BLEED a few chars into the md5
      // context: 10k carriers share the 60-char core, so hex chars
      // adjacent to it collide pairwise (16^-k per extra char — a
      // birthday effect, not a bug; the reference formulation bleeds
      // identically, as the property spec pins). Bleed beyond 12 chars
      // has probability ~10^8 * 16^-12 — never.
      assert(got.length == 10000, s"expected 10000 spans, got ${got.length}")
      got.foreach { case (id, s, e) =>
        assert(id % 3 == 0, s"non-carrier doc $id got a span")
        assert(s <= 32 && e >= 92 && s >= 20 && e <= 104,
          s"span ($s, $e) of doc $id should tightly contain the template")
      }
      // ~2.6M window rows x 24 bytes: a text-bearing window table would
      // be an order of magnitude past this bound
      assert(maxBytes < 96L * 1024 * 1024,
        s"per-task shuffle $maxBytes exceeds the narrow-window-table bound")
      info(f"30k docs / 10k-carrier template: $sec%.1f s, " +
        f"max per-task shuffle ${maxBytes / 1024 / 1024} MiB")
    }
  }
}
