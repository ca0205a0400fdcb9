package graft.engine.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Corpus-curation operators for LLM training-data pipelines (X4 adjunct):
  * reproducible sampling, composite quality gating, and sequence packing —
  * the three moves between "raw crawl" and "tokenizer-ready shards".
  *
  * Scale posture: hash sampling and packing-id assignment are narrow
  * (per-row hash / prefix-sum window on a high-cardinality order key);
  * the corpus filter is a composition of already-bucketed operators
  * (exact dedup's single content-key shuffle + narrow scoring projections).
  */
object Curation {

  /** Deterministic hash sample: keep a row iff the first 4 hex digits of
    * md5(key) fall below `fraction` of the 16^4 space. Granularity 1/65536;
    * the comparison is lexicographic on fixed-width lowercase hex, which is
    * monotone with the value, so any SQL engine with md5() replays the
    * exact membership — unlike `df.sample`, whose RNG stream is
    * partitioning-dependent and engine-private.
    *
    * 100 TB posture: narrow (no shuffle, no state), stable under
    * repartitioning, and composable — sampling the union of two days equals
    * the union of their samples, which seeded `sample()` cannot promise.
    *
    * KEY TYPE CONTRACT: the key must be integral or string. The predicate
    * hashes the key's STRING RENDERING, and engines render doubles,
    * decimals, and timestamps differently (1.0E7 vs 10000000.0), which
    * would silently select different rows — integers and strings render
    * identically everywhere, so membership replays exactly.
    */
  /** 4-hex-digit exclusive upper bound for `fraction` of the 16^4 space.
    * fraction = 1.0 rounds to 0x10000 — five digits, which would compare
    * lexicographically BELOW most 4-digit prefixes — so saturate to "g",
    * one past every hex digit. */
  def hexThreshold(fraction: Double): String = {
    val t = math.round(fraction * 65536).toInt
    if (t >= 65536) "g" else f"$t%04x"
  }

  def hashSample(df: DataFrame, keyCol: Column, fraction: Double): DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0, "fraction must be in [0,1]")
    df.filter(substring(md5(keyCol.cast("string").cast("binary")), 1, 4)
      < lit(hexThreshold(fraction)))
  }

  /** SQL twin of [[hashSample]]'s predicate for oracle assembly. */
  def sqlHashSamplePredicate(keyExpr: String, fraction: Double): String =
    s"substr(md5(CAST($keyExpr AS VARCHAR)), 1, 4) < '${hexThreshold(fraction)}'"

  /** Data-mixture sampling: per-source target rates applied with the same
    * deterministic md5-bucket membership as [[hashSample]] — the "mixture
    * weights" move of a pretraining pipeline (upsample wiki, downsample
    * crawl) as one narrow filter. A row's fate depends only on (key,
    * source-rate), so a weight change re-derives exactly the affected
    * sources and nothing else. */
  def mixtureSample(df: DataFrame, keyCol: Column, sourceCol: Column,
      weights: Map[String, Double], defaultFraction: Double): DataFrame = {
    (weights.values ++ Seq(defaultFraction)).foreach(f =>
      require(f >= 0.0 && f <= 1.0, "fractions must be in [0,1]"))
    val threshold = weights.toSeq.sortBy(_._1).foldLeft(
      lit(hexThreshold(defaultFraction))) { case (acc, (s, f)) =>
        when(sourceCol === s, lit(hexThreshold(f))).otherwise(acc)
      }
    df.filter(substring(md5(keyCol.cast("string").cast("binary")), 1, 4)
      < threshold)
  }

  /** Temperature-flattened source resampling — the multi-source
    * rebalancing move of a pretraining mixture (downsample the dominant
    * crawl, keep the small curated sources): source s with n_s documents
    * is kept at rate r_s = round(min(1, c / sqrt(n_s)), 4), i.e. keep
    * probability ∝ n_s^(α−1) at temperature α = 1/2, applied with
    * [[hashSample]]'s deterministic md5-bucket membership.
    *
    * α is PINNED at 1/2 on purpose: sqrt and division are correctly
    * rounded IEEE operations, so any engine recomputes bit-identical
    * rates from the same census — a general pow(α) is not cross-engine
    * bit-stable and would break value-level replay (the determinism
    * contract everything in this file keeps). The census is one tiny
    * aggregate (source cardinality, collected driver-side); the sample
    * itself is one narrow filter, same as every sampler here.
    *
    * NULL-source rows are EXCLUDED: they are dropped from the census
    * (a null key has no meaningful cardinality-based rate) and the
    * `when(sourceCol === s)` dispatch resolves null to the fold base
    * "0000" threshold, which admits nothing — matching the inner-join
    * semantics of the q90 oracle's census CTE. */
  def temperatureSample(df: DataFrame, keyCol: Column, sourceCol: Column,
      c: Double): DataFrame = {
    require(c > 0.0, "scale c must be positive")
    val census = df.filter(sourceCol.isNotNull)
      .groupBy(sourceCol.as("_src"))
      .agg(count(lit(1)).as("_n")).collect()
      .map(r => r.get(0) -> r.getLong(1)).sortBy(_._1.toString)
    val threshold = census.foldLeft(lit(hexThreshold(0.0))) {
      case (acc, (s, n)) =>
        when(sourceCol === s, lit(hexThreshold(temperatureRate(c, n)))).otherwise(acc)
    }
    df.filter(substring(md5(keyCol.cast("string").cast("binary")), 1, 4)
      < threshold)
  }

  /** r_s = round(min(1, c/√n), 4) — 4 dp so the hex threshold never sits
    * a rounding ulp from an engine boundary. */
  def temperatureRate(c: Double, n: Long): Double =
    BigDecimal(math.min(1.0, c / math.sqrt(n.toDouble)))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** SQL twin of [[mixtureSample]]'s predicate. */
  def sqlMixturePredicate(keyExpr: String, sourceExpr: String,
      weights: Map[String, Double], defaultFraction: Double): String = {
    val cases = weights.toSeq.sortBy(_._1)
      .map { case (s, f) => s"WHEN '$s' THEN '${hexThreshold(f)}'" }
      .mkString(" ")
    s"substr(md5(CAST($keyExpr AS VARCHAR)), 1, 4) < " +
      s"CASE $sourceExpr $cases ELSE '${hexThreshold(defaultFraction)}' END"
  }

  /** Per-domain frequency cap: keep at most `cap` documents per domain
    * (source/host) — the crawl-curation move against template spam and
    * over-represented hosts. Survivors are the `cap` smallest by
    * (md5(id), id) per domain: a deterministic unbiased sample, stable
    * across runs and re-ingests, NOT "first N by ingestion order" (which
    * would bias toward old content).
    *
    * Scale posture: domains are LOW-cardinality hot keys, so a rank window
    * (one reducer per domain sorting that domain's full row set) dies at
    * 100 TB. This uses the [[TopK.MinKAggregator]] instead — map-side
    * partials cap every partition at `cap` rows per domain before the
    * shuffle, so the exchange carries ≤ partitions·domains·cap tiny rows;
    * survivors (≤ domains·cap ids) broadcast back for a semi-join that
    * never shuffles the corpus. */
  /** ID TYPE CONTRACT: same as [[hashSample]] — `idCol` must be integral or
    * string. The id travels through the aggregator and the join back as its
    * string rendering (integers and strings render identically everywhere;
    * doubles/timestamps do not), so non-numeric string ids are first-class,
    * not silently nulled by a numeric cast. */
  def domainCap(df: DataFrame, idCol: String, domainCol: String,
      cap: Int): DataFrame = {
    require(cap >= 1, s"cap must be >= 1, got $cap")
    val survivors = df
      .select(col(domainCol).as("_dom"),
        md5(col(idCol).cast("string").cast("binary")).as("sortKey"),
        col(idCol).cast("string").as("id"))
      .groupBy(col("_dom"))
      .agg(TopK.minK(cap).as("keep"))
      .select(col("_dom").as("_keep_dom"), explode(col("keep")).as("k"))
      .select(col("_keep_dom"), col("k.id").as("_keep_id"))
    // (domain, id) keyed semi-join: ids only need to be unique WITHIN a
    // domain, and a null domain matches its own survivor row via <=>
    df.join(broadcast(survivors),
      df(domainCol) <=> col("_keep_dom") &&
        df(idCol).cast("string") === col("_keep_id"), "left_semi")
  }

  /** Deterministic GLOBAL training shuffle + shard assignment — the last
    * pipeline stage before a trainer reads the corpus (neighboring crawl
    * documents correlate; trainers want them decorrelated and the corpus
    * cut into equal-budget export shards). NO global sort and NO
    * low-cardinality window anywhere:
    *   - `shard_id` = 60-bit md5 prefix of the unit id, mod `nShards`
    *     (the engine-portable draw arithmetic of [[contrastivePairs]]) —
    *     uniform, so shard token budgets balance statistically;
    *   - `shuffle_key` = md5(id) — the within-shard training ORDER. A
    *     dense per-shard sequence number would route every unit of a
    *     shard through one rank-window reducer (nShards is
    *     low-cardinality by construction — the q65 scale killer);
    *     [[writeShards]] instead writes each shard SORTED by this key,
    *     which IS the training order with no rank ever materialized.
    * Deterministic, repartition-stable, and replayable by any engine
    * with md5 — re-running the export reproduces byte-identical shard
    * membership and order ([[hashSample]]'s auditability argument). */
  def shuffleShards(units: DataFrame, idCol: String,
      nShards: Int): DataFrame = {
    require(nShards >= 1, "nShards must be >= 1")
    units
      .withColumn("shuffle_key",
        md5(col(idCol).cast("string").cast("binary")))
      .withColumn("shard_id",
        conv(substring(col("shuffle_key"), 1, 15), 16, 10).cast(LongType)
          % nShards)
  }

  /** Materialize [[shuffleShards]]: one `shard_id=K/` parquet directory
    * per shard, rows within each shard sorted by `shuffle_key` — the
    * files a trainer streams IN ORDER, so the global shuffle costs one
    * repartition + per-partition sort, never a total order. */
  def writeShards(units: DataFrame, idCol: String, nShards: Int,
      path: String): Unit =
    shuffleShards(units, idCol, nShards)
      .repartition(nShards, col("shard_id"))
      .sortWithinPartitions(col("shard_id"), col("shuffle_key"))
      .write.partitionBy("shard_id")
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(path)

  /** The TRAINER ARTIFACT itself — fixed-length packed token-ID
    * sequences with document-boundary offsets (VERDICT r12 item 1, the
    * last yard between funnel stats and a trainer's input): within each
    * [[shuffleShards]] shard, documents' token-ID arrays concatenate in
    * the deterministic md5 training order into one token stream, which
    * is cut into sequences of EXACTLY `seqLen` tokens (the GPT-style
    * packing every causal-LM trainer consumes; documents straddle
    * sequence boundaries, the final sequence of a shard may be short —
    * the trainer pads it). Output, one row per (shard_id, seq_idx):
    *   - `token_ids`   ARRAY<BIGINT> — the packed ids, `seqLen` long
    *     except a shard's tail sequence;
    *   - `doc_starts`  ARRAY<BIGINT> — 0-based in-sequence offsets where
    *     a document STARTS (attention-mask / boundary-loss input). A
    *     sequence wholly inside one long document has no starts;
    *   - `start_doc_ids` ARRAY<BIGINT> — the unit ids starting at those
    *     offsets (positionally parallel to `doc_starts` — provenance);
    *   - `n_tokens`    BIGINT.
    *
    * Determinism: shard draw and order are [[shuffleShards]]'s md5
    * arithmetic; the per-shard token stream is therefore byte-identical
    * run to run and engine-replayable (q134 replays every packed id and
    * every boundary in DuckDB). Zero-token units (empty text) carry no
    * tokens into the stream, hence no boundary — they are invisible in
    * the artifact, deliberately.
    *
    * Scale posture (100 TB lens): the only wide ops are ONE shuffle on
    * shard_id and the per-shard prefix-sum window. A shard IS the unit
    * of training-file export: production sizes `nShards` so one shard
    * fits one reducer/output file (10⁴–10⁵ shards at 100 TB — same dial
    * as [[writeShards]]), making the window reducer-bounded by
    * construction, never a global sort. Each document then explodes to
    * ~n/seqLen slice rows (bounded fan-out), and the per-sequence
    * reassembly groups on (shard, seq) — keys the shard shuffle already
    * co-located. Nothing corpus-sized is collected or broadcast. */
  def packFixedSequences(units: DataFrame, idCol: String, idsCol: String,
      nShards: Int, seqLen: Int): DataFrame = {
    require(seqLen >= 1, "seqLen must be >= 1")
    val L = lit(seqLen.toLong)
    val sharded = shuffleShards(
      units.select(col(idCol).cast(LongType).as("_uid"),
        col(idsCol).as("_ids")), "_uid", nShards)
      .withColumn("_n", size(col("_ids")).cast(LongType))
      .filter(col("_n") > 0)
    val w = Window.partitionBy(col("shard_id")).orderBy(col("shuffle_key"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val positioned = sharded
      .withColumn("_start", sum(col("_n")).over(w) - col("_n"))
    positioned
      // a document overlaps sequences floor(start/L)..floor((end-1)/L)
      .withColumn("seq_idx", explode(sequence(
        floor(col("_start") / L), floor((col("_start") + col("_n") - 1) / L))))
      .withColumn("_sbeg", col("seq_idx") * L)
      .withColumn("_from", greatest(col("_sbeg"), col("_start")))
      .withColumn("_to",
        least((col("seq_idx") + 1) * L, col("_start") + col("_n")))
      .withColumn("_slice", expr(
        "slice(_ids, cast(_from - _start + 1 as int), cast(_to - _from as int))"))
      .withColumn("_off", col("_from") - col("_sbeg"))
      .withColumn("_is_start", col("_start") >= col("_sbeg"))
      .groupBy(col("shard_id"), col("seq_idx"))
      // _from is globally unique per (shard, seq) — slices are disjoint
      // ranges of the shard stream — so the struct sort is total; the
      // collected list is sequence-bounded: <= seqLen docs per sequence
      .agg(sort_array(collect_list(struct(col("_from"), col("_off"),
        col("_is_start"), col("_uid"), col("_slice")))).as("_parts"))
      .select(col("shard_id"), col("seq_idx"),
        flatten(expr("transform(_parts, x -> x._slice)")).as("token_ids"),
        expr("transform(filter(_parts, x -> x._is_start), x -> x._off)")
          .as("doc_starts"),
        expr("transform(filter(_parts, x -> x._is_start), x -> x._uid)")
          .as("start_doc_ids"))
      .withColumn("n_tokens", size(col("token_ids")).cast(LongType))
  }

  /** Materialize [[packFixedSequences]] as the on-disk trainer input:
    * one `shard_id=K/` parquet directory per shard, rows within each
    * shard sorted by `seq_idx` — a trainer streams each shard's files
    * in order and reads consecutive fixed-length sequences (the
    * [[writeShards]] layout contract applied to the packed artifact).
    * One repartition on shard_id + a per-partition sort; never a global
    * order. */
  def writePackedSequences(units: DataFrame, idCol: String, idsCol: String,
      nShards: Int, seqLen: Int, path: String,
      mode: org.apache.spark.sql.SaveMode =
        org.apache.spark.sql.SaveMode.Overwrite): Unit =
    packFixedSequences(units, idCol, idsCol, nShards, seqLen)
      .repartition(nShards, col("shard_id"))
      .sortWithinPartitions(col("shard_id"), col("seq_idx"))
      .write.partitionBy("shard_id")
      .mode(mode)
      .parquet(path)

  /** [[writePackedSequences]] IF ABSENT (the `Tokenizer.ensureVocab`
    * publish-if-absent pattern, keyed by the
    * parquet `_SUCCESS` marker): a packed-sequence export of a FROZEN
    * input is write-once per content key — later in-session runs (and
    * sibling queries) read the artifact instead of re-cutting it. */
  def ensurePackedSequences(units: => DataFrame, idCol: String,
      idsCol: String, nShards: Int, seqLen: Int, path: String): Unit =
    if (!java.nio.file.Files.exists(
        java.nio.file.Paths.get(path, "_SUCCESS")))
      writePackedSequences(units, idCol, idsCol, nShards, seqLen, path)

  /** Pre-flight telemetry for [[packFixedSequences]]'s nShards dial (the
    * [[graft.engine.relational.RangeJoin.binOccupancy]] pattern applied
    * to shards): per-shard unit and token totals, heaviest first. The
    * per-task bound of the pack is ONE SHARD's token stream — the
    * prefix-sum window partitions by `shard_id`, so a shard must fit one
    * reducer. Size `nShards ≈ corpus_tokens / target_shard_tokens`
    * (production: 10⁴–10⁵ shards at 100 TB, the [[writeShards]] dial);
    * if the top shard here dwarfs the median, the md5 draw is NOT the
    * problem — a single unit bigger than a shard is, and it must be
    * split upstream (a document's ids land in ONE shard whole). Costs
    * one aggregation over EXACTLY the units the pack would shuffle —
    * the same zero-token/null-ids exclusion [[packFixedSequences]]
    * applies, so n_units/shard_tokens are the pack's true reducer
    * load, not an over-count. */
  def shardOccupancy(units: DataFrame, idCol: String, idsCol: String,
      nShards: Int): DataFrame =
    shuffleShards(
      units.select(col(idCol).cast(LongType).as("_uid"),
        size(col(idsCol)).cast(LongType).as("_n"))
        .filter(col("_n") > 0), "_uid", nShards)
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).cast(LongType).as("n_units"),
        sum(col("_n")).cast(LongType).as("shard_tokens"),
        max(col("_n")).cast(LongType).as("max_unit_tokens"))
      .orderBy(col("shard_tokens").desc, col("shard_id"))

  /** Benchmark decontamination: for every corpus document, how many of its
    * distinct word n-grams appear anywhere in the benchmark set. The
    * standard eval-leakage check (n = 13 is the usual contamination
    * window). Returns (doc_id, n_ngrams, n_contaminated, contamination).
    *
    * Scale posture: the benchmark side (eval sets — thousands of docs, not
    * billions) collapses to a distinct n-gram set and is BROADCAST, so the
    * corpus scan stays shuffle-free: explode n-grams, hash-join against the
    * broadcast set, re-aggregate per doc on the same partitioning the
    * explode preserved. Nothing corpus-sized ever shuffles on n-gram keys.
    */
  def contamination(corpus: DataFrame, benchmark: DataFrame,
      textCol: String, idCol: String, n: Int = 13): DataFrame =
    contaminationStats(
      docNgrams(corpus, textCol, idCol, n).join(
        broadcast(benchmarkNgrams(benchmark, textCol, n)
          .withColumn("hit", lit(1L))),
        Seq("ng"), "left"))

  /** The exploded per-document DISTINCT n-gram pairs (doc_id, ng) every
    * contamination variant scans. */
  private def docNgrams(df: DataFrame, textCol: String, idCol: String,
      n: Int): DataFrame =
    df.select(col(idCol).cast(LongType).as("doc_id"),
      explode(array_distinct(graft.engine.functions.F.shingles(
        Dedup.tokens(col(textCol)), n))).as("ng"))

  /** A benchmark suite's corpus-wide distinct decontamination n-grams. */
  def benchmarkNgrams(benchmark: DataFrame, textCol: String,
      n: Int = 13): DataFrame =
    benchmark.select(explode(array_distinct(
        graft.engine.functions.F.shingles(
          Dedup.tokens(col(textCol)), n))).as("ng"))
      .distinct()

  /** Shared per-doc tail of the contamination variants: (doc_id, n_ngrams,
    * n_contaminated, contamination) from (doc_id, ng, hit-or-null) rows. */
  private def contaminationStats(joined: DataFrame): DataFrame = joined
    .groupBy(col("doc_id"))
    .agg(count(lit(1)).cast(LongType).as("n_ngrams"),
      sum(coalesce(col("hit"), lit(0L))).cast(LongType).as("n_contaminated"))
    .withColumn("contamination",
      round(col("n_contaminated").cast("double") / col("n_ngrams"), 6))

  /** Freeze a benchmark suite's decontamination n-grams as a store
    * BUCKETED on `ng_key`, behind the session view `table`
    * ([[graft.engine.Artifacts.publishView]]) — the publish half of
    * INCREMENTAL decontamination. [[contamination]] broadcasts the
    * benchmark side, which is right for one suite's worth of n-grams; a
    * production gate accumulates MANY suites × versions (10⁸+ n-grams —
    * past broadcast), and re-deriving them per ingest batch repays the
    * benchmark scan daily. Published once, the recurring batch join reads
    * this store with ZERO exchanges on the frozen side
    * ([[graft.engine.relational.Bucketed]]'s layout contract). `table` is
    * a content key ([[graft.engine.Artifacts.table]]): the frozen n-gram
    * set is a deterministic function of the benchmark frame, so a later
    * call under the same name gets the first publish back without
    * writing — which lets q129, q133 and x64 share one benchmark store
    * per session; a new benchmark suite is a new key, never an in-place
    * mutation. Returns the view. */
  def publishBenchmarkNgrams(benchmark: DataFrame, textCol: String,
      table: String, n: Int = 13, numBuckets: Int = 32): DataFrame =
    graft.engine.Artifacts.publishView(benchmarkNgrams(benchmark, textCol, n)
      // the store carries the 128-bit content key, not the ~13-word
      // string: the recurring batch join shuffles 16-byte keys (the
      // contentKey discipline every dedup operator here uses)
      .select(md5(col("ng")).as("ng_key")), table, "ng_key", numBuckets)

  /** The join stage of incremental decontamination: the ingest batch's
    * (doc_id, ng) pairs LEFT-joined against a PUBLISHED benchmark n-gram
    * store ([[publishBenchmarkNgrams]]'s view). The `merge` hint pins
    * sort-merge so the layout contract is exercised — the published scan
    * arrives hash-partitioned on the 128-bit `ng_key`, so the join's
    * ONLY exchange is the (small) batch (`Bucketed.shuffleCount == 1`,
    * q129's contract boolean and CurationSpec's plan gate). Each task
    * still sorts its frozen bucket: a bucketed scan reports no ordering.
    * Exposed separately so callers can audit the plan before
    * aggregating. */
  def contaminationJoin(batch: DataFrame, benchNg: DataFrame,
      textCol: String, idCol: String, n: Int = 13): DataFrame =
    docNgrams(batch, textCol, idCol, n)
      .select(col("doc_id"), md5(col("ng")).as("ng_key"))
      .join(
        benchNg.select(col("ng_key")).withColumn("hit", lit(1L))
          .hint("merge"),
        Seq("ng_key"), "left")

  /** [[contamination]] of an ingest batch against a PUBLISHED benchmark
    * n-gram table: identical per-doc answer (q64's oracle replays it
    * verbatim), but the benchmark side is the frozen store, not a
    * per-batch broadcast rebuild — the q91-banded / x63 incremental
    * posture applied to eval-leakage gating. */
  def contaminationBucketed(batch: DataFrame, benchNg: DataFrame,
      textCol: String, idCol: String, n: Int = 13): DataFrame =
    contaminationStats(
      contaminationJoin(batch, benchNg, textCol, idCol, n))

  /** C4-style corpus filter: exact dedup → quality gate → language gate →
    * token-length gate, in that order (dedup first so near-identical spam
    * doesn't vote in corpus statistics; cheap narrow gates after the one
    * shuffle). Returns the surviving documents — text included, so the
    * output parquet IS the curated corpus a downstream tokenizer consumes —
    * with their curation evidence columns. */
  def corpusFilter(docs: DataFrame, lang: String = "en",
      minTokens: Long = 20L, maxTokens: Long = 5000L): DataFrame = {
    val deduped = Dedup.exactDedup(docs, "text", "doc_id")
    val scored = TextAnalysis.languageId(
      TextAnalysis.qualityScore(deduped, "text"), "text")
    scored
      .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
      .filter(col("keep") === 1L && col("lang_pred") === lang &&
        col("n_tokens").between(minTokens, maxTokens))
      .select(col("doc_id"), col("text"), col("lang_pred"), col("n_tokens"),
        col("quality"))
  }

  /** Exact NTILE(t) OVER (PARTITION BY group ORDER BY order, tie) without a
    * per-group global sort — the 100 TB formulation of tier bucketing.
    *
    * A plain ntile window partitioned by a LOW-cardinality key (language,
    * source) routes an entire partition's rows through ONE task's sort:
    * correct at sf0.1, dead at scale (English is most of a crawl). This
    * operator computes the identical answer from order statistics:
    *
    *  1. histogram: count rows per (group, orderVal) — a hash-agg whose
    *     map-side partials absorb the heavy values; output size is bounded
    *     by DISTINCT order values per group, not corpus rows.
    *  2. cumulative rank range [lo, hi] per histogram cell, via a window
    *     over the HISTOGRAM (bounded), not the corpus.
    *  3. closed-form NTILE tile-of-rank (first n%t tiles get one extra row)
    *     applied to lo and hi: a cell whose whole rank range lands in one
    *     tile labels all its rows narrowly after a hash join back on
    *     (group, orderVal).
    *  4. only cells STRADDLING a tile boundary (at most t−1 per group) need
    *     the tie-break order: their rows get row_number over
    *     (group, orderVal) — a window whose partition is a single tie
    *     class, never a whole group. The residual sort is bounded by the
    *     largest tie class, the irreducible cost of tie-broken NTILE.
    *
    * `tieCol` must be unique within (group, orderVal) for a deterministic
    * answer (same contract as the window formulation). NULL group/order
    * values are first-class: the joins back onto the histogram are
    * null-safe (`<=>`), so null cells are counted, ranked (Spark windows
    * sort nulls FIRST ascending, same as the ntile window would), and
    * labeled — not silently dropped.
    *
    * HISTOGRAM BOUND CONTRACT: step 1's output is bounded by DISTINCT
    * (group, orderVal) pairs. A near-continuous order key (a raw double
    * score) degrades that bound to ~corpus rows, and the per-group
    * cumulative window approaches a one-task group sort. Quantize such
    * keys first (e.g. `round(score, 3)` — see q65): tier boundaries move
    * within a rounding ulp and the histogram stays ~10^3·groups rows.
    */
  def groupNtile(df: DataFrame, groupCol: String, orderCol: String,
      tieCol: String, numTiles: Int, tierCol: String = "tier"): DataFrame = {
    require(numTiles >= 1, "numTiles must be >= 1")
    val t = lit(numTiles.toLong)
    // tile of rank r among n rows, NTILE semantics: q = n / t rows per tile,
    // the first n % t tiles take one extra.
    def tileOf(r: Column, n: Column): Column = {
      val q = (n / t).cast(LongType)   // integral division on longs
      val rem = n % t
      when(q === 0L, r) // fewer rows than tiles: row r sits alone in tile r
        .otherwise(
          when(r <= (q + 1L) * rem, floor((r - 1L) / (q + 1L)) + 1L)
            .otherwise(rem + floor((r - 1L - rem * (q + 1L)) / q) + 1L))
        .cast(LongType)
    }
    val g = col(groupCol); val o = col(orderCol)
    val hist = df.groupBy(g, o).agg(count(lit(1)).cast(LongType).as("_cnt"))
    val wCum = Window.partitionBy(g).orderBy(o) // over the histogram only
    val totals = hist.groupBy(g).agg(sum(col("_cnt")).cast(LongType).as("_n"))
      .select(g.as("_tg"), col("_n"))
    val ranged = hist
      .withColumn("_hi", sum(col("_cnt")).over(wCum).cast(LongType))
      .withColumn("_lo", col("_hi") - col("_cnt") + 1L)
      .join(broadcast(totals), g <=> col("_tg")) // one tiny row per group
      .withColumn("_tlo", tileOf(col("_lo"), col("_n")))
      .withColumn("_thi", tileOf(col("_hi"), col("_n")))
      .select(g.as("_rg"), o.as("_ro"),
        col("_lo"), col("_n"), col("_tlo"), col("_thi"))
    val joined = df.join(ranged, g <=> col("_rg") && o <=> col("_ro"))
    val whole = joined.filter(col("_tlo") === col("_thi"))
      .withColumn(tierCol, col("_tlo"))
    val wTie = Window.partitionBy(g, o).orderBy(col(tieCol)) // one tie class
    val straddling = joined.filter(col("_tlo") =!= col("_thi"))
      .withColumn("_r", col("_lo") + row_number().over(wTie) - 1L)
      .withColumn(tierCol, tileOf(col("_r"), col("_n")))
      .drop("_r")
    whole.unionByName(straddling)
      .drop("_lo", "_n", "_tlo", "_thi", "_rg", "_ro")
  }

  /** Sequence packing (concatenate-and-split pretraining prep): documents
    * are laid out in `orderCol` order and cut every `budgetTokens` tokens;
    * a document's pack is the window its first token lands in. One
    * prefix-sum window over the order key, then a hash-agg per pack —
    * no data movement beyond the window's range partition.
    *
    * At 100 TB the single total-order window is the scale hazard; the
    * deterministic fix is to pack within independent shards (e.g. per
    * (source, date) partition) — pass `shardCols` to scope the window, at
    * the cost of one partial pack per shard.
    *
    * `orderCol` must be UNIQUE within a shard (doc_id, not a date): the
    * running sum's ROWS frame sums ties in an engine-chosen order, so a
    * non-unique key makes pack boundaries land on different documents
    * run-to-run. */
  def packSequences(docs: DataFrame, orderCol: String, textCol: String,
      budgetTokens: Long, shardCols: Seq[String] = Nil,
      allowGlobalWindow: Boolean = false,
      tokenCounter: Column => Column = TextAnalysis.tokenCount): DataFrame = {
    val shard = shardCols.map(col)
    packAssignments(docs, orderCol, textCol, budgetTokens, shardCols,
        allowGlobalWindow, tokenCounter)
      .groupBy(shard :+ col("pack_id"): _*)
      .agg(count(lit(1)).cast(LongType).as("n_docs"),
        sum(col("n_tokens")).cast(LongType).as("sum_tokens"),
        min(col(orderCol)).cast(LongType).as("first_doc"))
  }

  /** Per-document grain of [[packSequences]]: every input row plus its
    * `n_tokens` and assigned `pack_id` — what a writer materializing the
    * packed sequences (or joining pack membership to other per-doc
    * metadata, as the q88 curation pipeline does) actually consumes;
    * [[packSequences]] is this aggregated to pack level. Same window, same
    * shard scoping, same unique-`orderCol` contract. */
  def packAssignments(docs: DataFrame, orderCol: String, textCol: String,
      budgetTokens: Long, shardCols: Seq[String] = Nil,
      allowGlobalWindow: Boolean = false,
      tokenCounter: Column => Column = TextAnalysis.tokenCount): DataFrame = {
    // The unsharded prefix sum is a single-partition total-order window —
    // a scale hazard every registered caller avoids by sharding (q62/q88
    // pack per `source`). Refuse the silent fallback: an API user must opt
    // in explicitly, which is only sane for bounded inputs (a fixture, a
    // per-tenant slice already known to be small).
    require(shardCols.nonEmpty || allowGlobalWindow,
      "packAssignments without shardCols runs ONE unpartitioned window " +
        "over the whole corpus; pass shardCols (e.g. source/date) or set " +
        "allowGlobalWindow = true for provably small inputs")
    val w = (if (shardCols.isEmpty) Window.orderBy(col(orderCol))
             else Window.partitionBy(shardCols.map(col): _*).orderBy(col(orderCol)))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .withColumn("n_tokens", tokenCounter(col(textCol)))
      .withColumn("pack_id",
        floor((sum(col("n_tokens")).over(w) - col("n_tokens"))
          / budgetTokens).cast(LongType))
  }

  /** Fused tiers + pack: [[groupNtile]] applied AFTER [[packAssignments]]
    * on the SAME DataFrame, so one pipeline carries both labels. Result-
    * identical to the composed form
    * {{{ packAssignments(df,...).join(groupNtile(df,...).select(order, tier), order) }}}
    * — tier depends only on (group, score, order) and pack only on
    * (shard, order, text), so neither label perturbs the other — but the
    * plan is structurally better: the composed form scans `df` twice and
    * aligns the two corpus-sized derived tables with an equi-join on the
    * order key, which at 100 TB is a full-corpus shuffle join existing
    * solely to re-unite columns that were never apart. The fused form's
    * only joins are [[groupNtile]]'s internal histogram joins (bounded by
    * distinct (group, score) pairs — broadcast-sized by the quantized-key
    * contract), and the hist branch's column pruning drops the pack window
    * entirely, so the pack prefix-sum runs once.
    *
    * Per-stage observability is NOT lost: [[groupNtile]] and
    * [[packAssignments]] remain independent operators (q65 / q62 pin each
    * against its own oracle), and callers that need the composed plan for
    * stage-by-stage debugging can still write it (CurationSpec pins the
    * two forms row-identical). */
  def tieredPack(docs: DataFrame, groupCol: String, scoreCol: String,
      orderCol: String, textCol: String, numTiles: Int,
      budgetTokens: Long, shardCols: Seq[String] = Nil): DataFrame =
    groupNtile(
      packAssignments(docs, orderCol, textCol, budgetTokens, shardCols),
      groupCol, scoreCol, orderCol, numTiles)

  /** Per-group quantile FLOOR filter: keep rows whose `scoreCol` reaches
    * their group's q-quantile — the standard "drop the worst X% per
    * source" curation gate, driven by the MERGEABLE quantile sketch
    * ([[graft.engine.relational.QuantileSketch]], q110) instead of a
    * per-group sort: one capped-state aggregation over the corpus, a
    * groups-sized threshold table broadcast back, one narrow filter. At
    * 100 TB the sketch is the only formulation that doesn't shuffle raw
    * scores; with `k` >= the largest group (the exact regime, q110's
    * "below capacity" contract) the threshold is the exact
    * ceil(q·n)-th smallest score, which is what the q114 oracle pins.
    * Thresholds can also come from PUBLISHED per-batch sketch columns
    * (q110's posture) — pass precomputed `thresholds` to skip the scan.
    *
    * CALLER-SUPPLIED THRESHOLDS DEFINE THE GROUP UNIVERSE: the join is
    * an INNER join, so a group with no row in `thresholds` is dropped
    * entirely — indistinguishable downstream from "threshold above every
    * score". This is deliberate (validating coverage would cost a second
    * full scan of `docs`, the wrong default at 100 TB); callers curating
    * against published sketches must ensure the sketch table covers every
    * group they intend to keep, or union in a -inf threshold row per
    * extra group. CurationSpec pins this drop semantics explicitly.
    */
  def quantileFloor(docs: DataFrame, groupCol: String, scoreCol: String,
      q: Double, k: Int,
      thresholds: Option[DataFrame] = None): DataFrame = {
    require(q > 0.0 && q <= 1.0, "quantile must lie in (0, 1]")
    import graft.engine.relational.QuantileSketch
    val thr = thresholds.getOrElse {
      val sk = docs.groupBy(col(groupCol))
        .agg(QuantileSketch.sketchAgg(col(scoreCol), k).as("sk"))
      QuantileSketch.estimate(sk, groupCol, "sk", Seq(q), k)
        .select(col(groupCol), col("estimate").as("_thr"))
    }
    docs.join(broadcast(thr), groupCol)
      .filter(col(scoreCol) >= col("_thr"))
      .drop("_thr")
  }

  /** Contrastive training-pair mining for embedding models (the
    * SimCSE/E5-style hard-example construction re-expressed as pure
    * relational arithmetic): every duplicate-class member anchors one
    * POSITIVE (its class representative = min id — the supervised signal
    * near-dup detection gives for free) and `negativesPerAnchor`
    * deterministic NEGATIVES drawn by md5 arithmetic over (anchor, j) —
    * reproducible on any engine, no RNG state, composable across
    * ingestion batches (the q60 hash-sampling argument). A drawn negative
    * must EXIST in the corpus and must not share the anchor's content
    * class — both enforced by joins, so a collision or gap drops the row
    * identically on every engine.
    *
    * The draw takes the first 15 md5 hex digits (60 bits, non-negative in
    * a Long) so spans up to 2^60 draw uniformly — an 8-digit (32-bit)
    * prefix would silently never draw ids >= 2^32 at the documented
    * 100 TB dense-id scale. Spans beyond 2^60 are rejected rather than
    * biased.
    *
    * Scale: one shuffle on the content key (class building), one narrow
    * explode (k rows per anchor), one join on neg_id (existence +
    * class check) — anchors are |duplicates|-sized, never corpus-sized.
    * `negIdSpan` bounds the draw range (defaults to max(id)+1; pass the
    * dense-id span when the corpus carries sparse synthetic ids). For
    * HARD negatives (ranked near the anchor in embedding space instead
    * of drawn uniformly) see [[hardNegativePairs]]. */
  def contrastivePairs(docs: DataFrame, textCol: String, idCol: String,
      negativesPerAnchor: Int = 2,
      negIdSpan: Option[Long] = None): DataFrame = {
    require(negativesPerAnchor >= 1, "need at least one negative")
    import graft.engine.llm.Dedup
    val keyed = docs.select(col(idCol).cast(LongType).as("id"),
      Dedup.contentKey(col(textCol)).as("ck"))
    val span = negIdSpan.getOrElse {
      val row = docs.agg(max(col(idCol).cast(LongType))).head()
      require(!row.isNullAt(0), "empty corpus has no id span")
      row.getLong(0) + 1L
    }
    require(span >= 1, "id span must be positive")
    require(span <= (1L << 60),
      s"negIdSpan $span exceeds the 60-bit md5 draw range (2^60); " +
        "a larger span would bias the modulo and truncate the id space")
    val anchors = duplicateAnchors(docs, textCol, idCol)
    val cand = anchors
      .select(col("anchor_id"), col("pos_id"), col("ck"),
        explode(sequence(lit(0), lit(negativesPerAnchor - 1))).as("j"))
      .withColumn("neg_id",
        conv(substring(md5(concat(col("anchor_id").cast("string"),
          lit(":"), col("j").cast("string")).cast("binary")), 1, 15), 16, 10)
          .cast(LongType) % span)
    cand.join(keyed.select(col("id").as("neg_id"), col("ck").as("neg_ck")),
        Seq("neg_id"))
      .filter(col("neg_ck") =!= col("ck"))
      .select(col("anchor_id"), col("pos_id"), col("neg_id"),
        col("j").cast(LongType).as("j"))
  }

  /** The (anchor, positive, class-key) table both contrastive miners
    * share: every duplicate-class member that is NOT its class
    * representative (min id) anchors the representative as its positive.
    * One shuffle on the content key; |duplicates|-sized output. */
  def duplicateAnchors(docs: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    import graft.engine.llm.Dedup
    val keyed = docs.select(col(idCol).cast(LongType).as("id"),
      Dedup.contentKey(col(textCol)).as("ck"))
    val reps = keyed.groupBy(col("ck"))
      .agg(min(col("id")).as("pos_id"), count(lit(1)).as("n"))
    keyed.join(reps.filter(col("n") > 1), Seq("ck"))
      .filter(col("id") =!= col("pos_id"))
      .select(col("id").as("anchor_id"), col("pos_id"), col("ck"))
  }

  /** HARD-negative contrastive mining (VERDICT r11 item 2 — the
    * production successor of [[contrastivePairs]]' uniform draw):
    * negatives are RANKED near the anchor in embedding space instead of
    * drawn at random, which is what makes contrastive training data
    * effective (the InfoNCE hard-negative literature: Robinson et al.
    * 2021). Positives are the duplicate-class representatives
    * ([[duplicateAnchors]]); `neighbors` is the anchors' candidate
    * ranking — (qid, nid, cosine) with qid = anchor id — produced by
    * probing a PUBLISHED ANN index ([[AnnIndex]], exact-regime settings
    * when the ranking must be engine-replayable, q127's posture) or any
    * of the [[Similarity]] top-k operators. Candidates sharing the
    * anchor's content class are excluded (the anchor itself, its
    * positive, and every other copy — a same-class "negative" would be a
    * false negative in the loss), then the surviving candidates re-rank
    * by (cosine desc, id asc) and the top `negativesPerAnchor` become
    * the triple's negatives.
    *
    * Scale: anchors are |duplicates|-sized and `neighbors` is
    * anchors × k — the expensive part (the ANN probe over the corpus)
    * happens upstream at index-probe cost; everything here joins
    * candidate-sized frames, and the window partitions by anchor over
    * ≤ k rows per group. */
  def hardNegativePairs(docs: DataFrame, textCol: String, idCol: String,
      neighbors: DataFrame, negativesPerAnchor: Int): DataFrame = {
    require(negativesPerAnchor >= 1, "need at least one negative")
    import graft.engine.llm.Dedup
    import org.apache.spark.sql.expressions.Window
    val anchors = duplicateAnchors(docs, textCol, idCol)
    val keyed = docs.select(col(idCol).cast(LongType).as("neg_id"),
      Dedup.contentKey(col(textCol)).as("neg_ck"))
    val cand = neighbors
      .select(col("qid").as("anchor_id"), col("nid").as("neg_id"),
        col("cosine"))
      .join(anchors, Seq("anchor_id"))
      .join(keyed, Seq("neg_id"))
      .filter(col("neg_ck") =!= col("ck"))
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(col("cosine").desc, col("neg_id").asc)
    cand.withColumn("neg_rank", row_number().over(w).cast(LongType))
      .filter(col("neg_rank") <= negativesPerAnchor)
      .select(col("anchor_id"), col("pos_id"), col("neg_id"),
        col("neg_rank"), col("cosine"))
  }
}
