package graft.engine.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.engine.functions.F

/** Deduplication operators for LLM training-data pipelines (X1/X2).
  *
  * Scale design: every variant is a *bucketing* strategy — no operator here
  * ever compares all pairs. Exact dedup shuffles once on a 128-bit content
  * key; MinHash and SimHash shuffle candidate generation on band keys and
  * verify only within buckets. At 100 TB the bucket-join key-space is what
  * controls skew: band hashes are uniformly distributed by construction, so
  * AQE's skew handling is a safety net, not a requirement.
  */
object Dedup {

  /** Whitespace tokens of lowercased text. */
  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** 128-bit content key for exact (normalized) dedup. */
  def contentKey(text: Column): Column = md5(lower(trim(text)))

  /** X1 — exact dedup: keep the lowest-id row per normalized content key.
    * One shuffle on the content hash; survivors keep their full row. */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(contentKey(col(textCol))).orderBy(col(idCol).asc)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** X1 — incremental (ingestion-time) dedup: dedup the incoming batch
    * within itself, then anti-join its content keys against the existing
    * corpus — the append-only ingestion move (a new crawl lands against
    * yesterday's 100 TB). The existing side reduces to DISTINCT content
    * keys before the anti-join, so what shuffles for the big side is one
    * 128-bit key per unique document, not the documents; in steady state
    * the key set lives as its own bucketed table and the anti-join is
    * co-located. */
  def incrementalDedup(incoming: DataFrame, existing: DataFrame,
      textCol: String, idCol: String): DataFrame = {
    val existingKeys = existing
      .select(contentKey(col(textCol)).as("_ck")).distinct()
    exactDedup(incoming, textCol, idCol)
      .withColumn("_ck", contentKey(col(textCol)))
      .join(existingKeys, Seq("_ck"), "left_anti")
      .drop("_ck")
  }

  /** X1 ingestion dedup with a Bloom pre-filter — the steady-state 100 TB
    * formulation of [[incrementalDedup]]. Same EXACT result, different
    * cost shape: the existing corpus's distinct keys are summarized once
    * into a Bloom filter (bits ≈ 9.6·n at 1% fpp — a 10⁹-key corpus is a
    * ~1.2 GB filter; beyond that, shard by key range), which ships to
    * executors inside a native expression. Rows whose key is
    * DEFINITELY-absent (no false negatives) pass straight through with no
    * shuffle; only the might-contain minority — true re-ingests plus the
    * fpp·batch false positives — pays the exact anti-join. For a daily
    * batch that is mostly-new content (the common crawl-append case), the
    * anti-join shrinks from |batch| probes to ~|dupes| probes.
    *
    * Exactness: false positives are re-checked by the anti-join, false
    * negatives don't exist, so output ≡ [[incrementalDedup]] — q81 verifies
    * this against q68's oracle SQL; DedupSpec asserts set-equality. */
  def bloomPrefilterDedup(incoming: DataFrame, existing: DataFrame,
      textCol: String, idCol: String, fpp: Double = 0.01): DataFrame = {
    require(fpp > 0.0 && fpp < 1.0, s"fpp must be in (0,1), got $fpp")
    val existingKeys = existing
      .select(contentKey(col(textCol)).as("_ck")).distinct()
    // one count job sizes the filter; one agg job builds it driver-side
    val n = math.max(existingKeys.count(), 1L)
    val bloom = existingKeys.stat.bloomFilter("_ck", n, fpp)
    val dedupedIn = exactDedup(incoming, textCol, idCol)
      .withColumn("_ck", contentKey(col(textCol)))
      .withColumn("_hit", F.bloomMightContain(col("_ck"), bloom))
    val definitelyNew = dedupedIn.filter(!col("_hit"))
    val verifiedNew = dedupedIn.filter(col("_hit"))
      .join(existingKeys, Seq("_ck"), "left_anti")
    definitelyNew.unionByName(verifiedNew).drop("_ck", "_hit")
  }

  /** X1/X2 — cross-document repeated chunks: the chunk-granular form of
    * exact substring dedup (the "dedup repeated spans, not just whole
    * documents" signal of Lee et al., Deduplicating Training Data Makes
    * Language Models Better, arXiv:2107.06499 — full suffix arrays don't
    * distribute; fixed token windows do). Documents are cut into
    * non-overlapping `windowTokens`-token chunks; a chunk whose 128-bit key
    * appears in ≥ 2 distinct documents is reported with its spread.
    *
    * Scale posture: only (md5 key, doc_id) pairs shuffle — the chunk text
    * dies at the map side; the distinct-doc count is a two-level aggregation
    * ((key, doc) partial, then per-key) rather than COUNT(DISTINCT), so no
    * Expand plan doubles the shuffle (BASELINE.md round-3 rule). */
  def repeatedChunks(df: DataFrame, textCol: String, idCol: String,
      windowTokens: Int = 20): DataFrame = {
    val perDoc = TextAnalysis.chunkTokens(df, idCol, textCol, windowTokens, 0)
      .select(md5(concat_ws(" ", col("chunk_tok"))).as("chunk_key"),
        col("doc_id"))
      .groupBy(col("chunk_key"), col("doc_id"))
      .agg(count(lit(1)).cast(LongType).as("occ"))
    perDoc.groupBy(col("chunk_key"))
      .agg(count(lit(1)).cast(LongType).as("n_docs"),
        sum(col("occ")).cast(LongType).as("n_occurrences"),
        min(col("doc_id")).cast(LongType).as("min_doc_id"))
      .filter(col("n_docs") >= 2)
  }

  /** X1/X2 — character-granular EXACT-SUBSTRING repeated spans: the
    * maximal-span form of Lee et al.'s ExactSubstr dedup (arXiv:2107.06499
    * §4.1 — their suffix-array formulation doesn't distribute; sliding
    * fixed-length windows + gaps-and-islands recovers the same maximal
    * regions), completing the chunk-granular [[repeatedChunks]]. Every
    * length-`minLen` character window whose text occurs >= 2 times
    * corpus-wide (cross-doc OR self-repeat — Lee et al. count both) marks
    * its start position; per document, marked positions merge into MAXIMAL
    * spans wherever consecutive windows overlap or abut (next <= prev +
    * minLen). Returns one row per span: (doc_id, span_start 0-based
    * inclusive, span_end exclusive).
    *
    * PRECONDITION (whole span family, both key paths): `idCol` is UNIQUE.
    * Duplicate ids merge two documents' positions into one island stream
    * — and in [[repeatedSpansHashed]] cross-multiply the candidate
    * re-acquisition join — producing spans neither document has. Run
    * [[exactDedup]] (or any id-assigning ingest) first. Every char inside a span sits in some
    * repeated window; span length >= minLen by construction.
    *
    * Scale posture: the window table is one row per character — the same
    * O(corpus) row count the suffix-array tools pay, here as two shuffles
    * (occurrence count + position semi-join) on the window key and one
    * per-doc-bounded window for the island merge. At 100 TB the shuffle
    * key becomes (64-bit rolling hash) with within-bucket text verify —
    * the MinHash banding pattern ([[minHashNearDups]]) — so the wire
    * carries 8-byte keys, not minLen-char substrings; hash keys are
    * uniform so AQE skew handling is a safety net. Documents longer than
    * the `sequence` array budget chunk first ([[TextAnalysis.chunkTokens]]
    * with overlap >= minLen) — the q55 composition. */
  def repeatedSpans(df: DataFrame, textCol: String, idCol: String,
      minLen: Int): DataFrame = {
    require(minLen >= 1, "minLen must be >= 1")
    val win = df
      .select(col(idCol).cast(LongType).as("doc_id"), col(textCol).as("_t"))
      .filter(length(col("_t")) >= minLen)
      .select(col("doc_id"),
        explode(sequence(lit(0), length(col("_t")) - minLen)).as("pos"),
        col("_t"))
      .select(col("doc_id"), col("pos"),
        col("_t").substr(col("pos") + 1, lit(minLen)).as("_w"))
    val dup = win.groupBy(col("_w"))
      .agg(count(lit(1)).as("_c"))
      .filter(col("_c") >= 2)
      .select(col("_w"))
    val hits = win.join(dup, Seq("_w"), "left_semi")
      .select(col("doc_id"), col("pos"))
    mergeSpans(hits, minLen)
  }

  /** The 100 TB formulation of [[repeatedSpans]] — IDENTICAL output
    * (DedupSpec pins equality), different wire: window keys are 8-byte
    * rolling hashes from the O(n)-per-doc [[F.windowHashes]] kernel, so
    * the occurrence-count shuffle carries (hash) instead of minLen-char
    * substrings, and actual window text materializes only for CANDIDATE
    * positions (hash occurs >= 2 times), where an exact-substring
    * re-group discards collisions — the MinHash banded-candidates +
    * verify decomposition ([[minHashNearDups]]), so the ~2^30 hash range
    * costs time on collisions, never correctness. Every true repeat's
    * occurrences all carry the same hash, hence all reach the verify
    * stage, hence the verified count equals the global count — equality
    * with the literal variant is structural, not probabilistic. */
  def repeatedSpansHashed(df: DataFrame, textCol: String, idCol: String,
      minLen: Int): DataFrame = {
    require(minLen >= 1, "minLen must be >= 1")
    // fanOut: the rolling-hash kernel + posexplode emit ~24 B per input
    // CHARACTER into the occurrence-count shuffle, so this one extra
    // exchange of the raw text is a rounding error at any scale — and it
    // rescues the kernel from the single-task stage a tiny/unsplittable
    // input (or an AQE-coalesced exchange) would pin it to (guide §2.5).
    val base = graft.engine.Par.fanOut(df
      .select(col(idCol).cast(LongType).as("doc_id"), col(textCol).as("_t"))
      .filter(length(col("_t")) >= minLen), col("doc_id"))
    // the window table deliberately DROPS the text: (doc_id, pos, hash)
    // is 24 bytes/row, so neither the occurrence count nor the semi-join
    // can ever shuffle a document once per window (text amplification —
    // the trap if `_t` rode along and the repeated-hash set outgrew a
    // broadcast, forcing a sort-merge semi-join of the text-bearing side)
    val win = base.select(col("doc_id"),
      posexplode(F.windowHashes(col("_t"), minLen)).as(Seq("pos", "_h")))
    val dupH = win.groupBy(col("_h"))
      .agg(count(lit(1)).as("_c"))
      .filter(col("_c") >= 2)
      .select(col("_h"))
    val candPos = win.join(dupH, Seq("_h"), "left_semi")
      .select(col("doc_id"), col("pos"))
    // candidates re-acquire text by doc_id — one text transfer per doc
    // WITH candidates (output-sensitive), never per window
    val cand = candPos.join(base, Seq("doc_id"))
      .select(col("doc_id"), col("pos"),
        col("_t").substr(col("pos") + 1, lit(minLen)).as("_w"))
    val dupW = cand.groupBy(col("_w"))
      .agg(count(lit(1)).as("_c"))
      .filter(col("_c") >= 2)
      .select(col("_w"))
    val hits = cand.join(dupW, Seq("_w"), "left_semi")
      .select(col("doc_id"), col("pos"))
    mergeSpans(hits, minLen)
  }

  /** The REMOVAL action over [[repeatedSpans]] — boilerplate stripping:
    * cut every maximal repeated span out of every document (the
    * headers/footers/license-block regime, where ALL occurrences of
    * corpus-repeated text are noise; the keep-one-copy dedup regime is
    * [[exactDedup]]-then-trim — compose, don't conflate). Returns every
    * input row with `trimmed_text` (the non-span remainder, original
    * order) and `n_trimmed_chars`; clean docs pass through verbatim.
    *
    * The splice is a per-row `aggregate` HOF over the doc's own sorted
    * span list — spans are disjoint and per-doc-bounded (<=
    * len/minLen + 1 of them), so the collected array is never more than
    * a fraction of the text it annotates; nothing corpus-sized
    * aggregates. */
  def trimRepeatedSpans(df: DataFrame, textCol: String, idCol: String,
      minLen: Int, hashedKeys: Boolean = true): DataFrame =
    spliceSpans(df, textCol, idCol,
      if (hashedKeys) repeatedSpansHashed(df, textCol, idCol, minLen)
      else repeatedSpans(df, textCol, idCol, minLen))

  /** The splice tail shared by [[trimRepeatedSpans]] and
    * [[trimAgainstPublished]]: cut the given disjoint `spans`
    * (doc_id, span_start, span_end) out of every input row. The splice
    * is a per-row `aggregate` HOF over the doc's own sorted span list —
    * spans are disjoint and per-doc-bounded, so the collected array is
    * never more than a fraction of the text it annotates; nothing
    * corpus-sized aggregates. */
  private[llm] def spliceSpans(df: DataFrame, textCol: String,
      idCol: String, spans: DataFrame): DataFrame = {
    val perDoc = spans
      .groupBy(col("doc_id").as("_span_doc"))
      .agg(sort_array(collect_list(
        struct(col("span_start"), col("span_end")))).as("_spans"))
    // fanOut the DOCUMENT side: the per-doc span list broadcasts (it is
    // bounded by spans-per-doc, never corpus-shaped), so without the fan
    // the splice's substr/concat kernel runs at the raw input's
    // parallelism — one task for a one-row-group ingest file.
    val fanned = graft.engine.Par.fanOut(df, col(idCol))
    val t = col(textCol)
    val spliced = aggregate(
      col("_spans"),
      struct(lit(0L).as("pos"), lit("").as("acc")),
      (st, sp) => struct(
        sp.getField("span_end").as("pos"),
        concat(st.getField("acc"),
          t.substr((st.getField("pos") + 1).cast("int"),
            (sp.getField("span_start") - st.getField("pos")).cast("int")))
          .as("acc")),
      st => concat(st.getField("acc"),
        t.substr((st.getField("pos") + 1).cast("int"),
          (length(t).cast("long") - st.getField("pos")).cast("int"))))
    fanned.join(perDoc,
        fanned(idCol).cast(LongType) === col("_span_doc"), "left")
      .withColumn("trimmed_text",
        when(col("_spans").isNull, t).otherwise(spliced))
      .withColumn("n_trimmed_chars",
        (length(t) - length(col("trimmed_text"))).cast(LongType))
      .drop("_span_doc", "_spans")
  }

  /** Every window's 128-bit content key: (doc_id, pos, wk = md5 of the
    * minLen-char window text). The md5 key is EXACT (the contentKey
    * discipline — no verify stage needed), which is what a PUBLISHED
    * store requires: a stored 8-byte rolling hash would need the
    * reference TEXT retained for candidate verification on every later
    * batch. Cost is O(n · minLen) hashing per doc — fine for the
    * one-time reference publish and for ingest-tick-sized batches; a
    * full-corpus one-shot pass stays on [[repeatedSpansHashed]]'s
    * rolling-hash wire. Keys come from the single-pass
    * [[graft.engine.functions.Md5WindowKeys]] kernel (bit-identical to
    * `md5(substring(_t, pos+1, minLen))`, pinned by Md5WindowKeysSpec);
    * the built-in `explode(sequence) + substr + md5` three-operator
    * formulation paid a per-window row-widen carrying the full document
    * text plus a substring copy and digest allocation — measured 22 → 9 s
    * on x65's trim pipeline at sf0.1 (the Shingles/MinHashSignature
    * precedent). */
  private def windowKeys(df: DataFrame, textCol: String, idCol: String,
      minLen: Int): DataFrame =
    // fanOut: same cost argument as [[repeatedSpansHashed]] — the md5
    // window-key table (16 B key + pos per input character) dwarfs one
    // exchange of the text, and the O(n·minLen) hashing kernel must not
    // run single-task on a one-row-group ingest file.
    graft.engine.Par.fanOut(df
        .select(col(idCol).cast(LongType).as("doc_id"), col(textCol).as("_t"))
        .filter(length(col("_t")) >= minLen), col("doc_id"))
      .select(col("doc_id"),
        posexplode(F.md5WindowKeys(col("_t"), minLen)).as(Seq("pos", "wk")))

  /** Freeze a reference corpus's BOILERPLATE MODEL as a store bucketed
    * on `wk`, behind the session view `table`
    * ([[graft.engine.Artifacts.publishView]]): the md5 keys of every
    * minLen-char window occurring >= 2 times in the reference (the
    * q128/q131 duplicate-window definition). The
    * [[graft.engine.llm.Curation.publishBenchmarkNgrams]] posture applied
    * to spans: every recurring ingest batch trims against it with ZERO
    * exchanges on the frozen side (its scan arrives hash-partitioned on
    * the 16-byte `wk`; each task still sorts its bucket for the merge
    * join, since a bucketed scan reports no ordering). `table` is a
    * content key ([[graft.engine.Artifacts.table]] over the reference
    * definition and minLen): the model — a pure function of the frozen
    * reference text — publishes once per session, and every later call
    * (and every other query sharing the same reference) gets the same
    * store back; a refreshed reference is a new key, never an in-place
    * mutation. The store carries only `wk` — 16 B/row, never window
    * text. Returns the view. */
  def publishBoilerplateWindows(reference: DataFrame, textCol: String,
      idCol: String, table: String, minLen: Int,
      numBuckets: Int = 32): DataFrame =
    graft.engine.Artifacts.publishView(
      windowKeys(reference, textCol, idCol, minLen)
        .groupBy(col("wk"))
        .agg(count(lit(1)).as("_c"))
        .filter(col("_c") >= 2)
        .select(col("wk")),
      table, "wk", numBuckets)

  /** Trim an ingest batch against a PUBLISHED boilerplate model
    * ([[publishBoilerplateWindows]]'s view): mark
    * every batch position whose window key is in the model, merge marked
    * positions into maximal spans (the same gaps-and-islands rule as
    * [[repeatedSpans]]), splice them out. Unlike [[trimRepeatedSpans]]
    * — which defines boilerplate WITHIN the corpus it trims — the model
    * here is frozen, so ticks of a stream can each trim independently
    * and their union equals the one-shot batch answer (x65 pins both;
    * a doc's spans depend only on its own text and the frozen model).
    * The `merge` hint pins sort-merge so the frozen side's layout
    * contract is exercised: its scan arrives bucketed on `wk`,
    * contributing zero exchanges (x64's plan-gate pattern). */
  def trimAgainstPublished(batch: DataFrame, model: DataFrame,
      textCol: String, idCol: String, minLen: Int): DataFrame = {
    val hits = windowKeys(batch, textCol, idCol, minLen)
      .join(model.select(col("wk")).hint("merge"), Seq("wk"), "left_semi")
      .select(col("doc_id"), col("pos"))
    spliceSpans(batch, textCol, idCol, mergeSpans(hits, minLen))
  }

  /** Shared gaps-and-islands tail of the repeated-span variants: marked
    * window positions → maximal disjoint spans (per-doc-bounded window). */
  private def mergeSpans(hits: DataFrame, minLen: Int): DataFrame = {
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos").asc)
    hits
      .withColumn("_prev", lag(col("pos"), 1).over(byPos))
      .withColumn("_new", when(col("_prev").isNull ||
        col("pos") > col("_prev") + minLen, 1).otherwise(0))
      .withColumn("_span", sum(col("_new")).over(byPos))
      .groupBy(col("doc_id"), col("_span"))
      .agg(min(col("pos")).cast(LongType).as("span_start"),
        (max(col("pos")) + minLen).cast(LongType).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"))
  }

  /** Per-document accounting over [[repeatedSpans]] — the curation signal
    * ("how much of this document is boilerplate/copy") and the input to a
    * drop-or-trim policy: (doc_id, n_spans, dup_chars, total_chars,
    * dup_ratio), EVERY input document represented (zero rows for docs with
    * no repeated span). dup_chars never double-counts — spans are disjoint
    * by construction. */
  def spanDupStats(df: DataFrame, textCol: String, idCol: String,
      minLen: Int, hashedKeys: Boolean = true): DataFrame = {
    val spans =
      if (hashedKeys) repeatedSpansHashed(df, textCol, idCol, minLen)
      else repeatedSpans(df, textCol, idCol, minLen)
    val perDoc = spans
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast(LongType).as("n_spans"),
        sum(col("span_end") - col("span_start")).cast(LongType)
          .as("dup_chars"))
    df.select(col(idCol).cast(LongType).as("doc_id"),
        length(col(textCol)).cast(LongType).as("total_chars"))
      .join(perDoc, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_spans", "dup_chars"))
      .withColumn("dup_ratio",
        round(col("dup_chars").cast("double") / col("total_chars"), 6))
      .select(col("doc_id"), col("n_spans"), col("dup_chars"),
        col("total_chars"), col("dup_ratio"))
  }

  /** k-token shingles (k-grams of the token stream) as strings; documents
    * shorter than k tokens collapse to a single whole-text shingle.
    * Native expression — single pass over the token array (the HOF
    * formulation re-evaluated the tokenizing split per element access). */
  def shingles(tokensCol: Column, k: Int): Column = F.shingles(tokensCol, k)

  /** MinHash signature via the custom Catalyst expression: one string hash
    * per shingle + `numHashes` integer re-mixes, single pass, no shuffle.
    * (The pure-HOF formulation re-hashes the shingle text per family
    * through interpreted lambdas — measured 25 s → 0.1 s at sf0.1.) */
  def minhashSignature(shinglesCol: Column, numHashes: Int): Column =
    F.minhashSignature(shinglesCol, numHashes)

  /** X2a — MinHash + LSH banding near-dup candidates, verified by exact
    * shingle Jaccard. Returns (id_a, id_b, jaccard) pairs with
    * jaccard >= threshold and id_a < id_b.
    *
    * Pipeline: shingle → signature (narrow) → explode `bands` band-hashes →
    * shuffle on (band, bandHash) → self-join inside buckets → distinct
    * candidate pairs → verify exact Jaccard on the shingle arrays.
    * Wrong-bucket collisions are filtered by the verify stage, so hash
    * collisions cost time, never correctness.
    */
  def minHashNearDups(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 32, bands: Int = 8,
      jaccardThreshold: Double = 0.5, shingleSize: Int = 3,
      maxBucketSize: Int = 1000, overflowStars: Boolean = false): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val banded = bandedFromSigs(
      minHashSignatures(df, textCol, idCol, numHashes, shingleSize),
      numHashes, bands)
    // Candidate pairs come from grouping ids per (band, bandHash) bucket and
    // expanding in-bucket combinations — ONE aggregation instead of a
    // self-join, so the signature plan executes once. `maxBucketSize` caps
    // the quadratic expansion of a degenerate bucket (a 10^5-duplicate
    // cluster at 100 TB would otherwise emit 10^10 pairs; capped, its dups
    // are still found transitively through the survivors). The collector is
    // the partial-aggregating CappedIdsAggregator — a collect_list-then-
    // slice would materialize the FULL hot bucket in one aggregation buffer
    // before capping, OOMing the aggregating task on exactly the degenerate
    // cluster the cap exists for; here every partial and merge buffer holds
    // <= maxBucketSize ids (same bounded posture as embeddingBuckets).
    val bucketsAll = banded.groupBy(col("band_id"), col("band_hash"))
      .agg(TopK.cappedIds(maxBucketSize, col("id")).as("ids"),
        count(lit(1)).cast(LongType).as("n_full"))
    val buckets = bucketsAll.filter(size(col("ids")) > 1)
    val capped = buckets
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + 2, size(col("ids"))),
          y => struct(x.as("id_a"), y.as("id_b")))))).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
    // `overflowStars`: recall recovery for DEGENERATE buckets (SCALE.md
    // "hot-bucket recall" spike). The cap truncates a hot bucket's pair
    // list, so members beyond the cap are invisible to CC-based dedup.
    // Extra hash bits cannot split a bucket of IDENTICAL members (the
    // common degenerate: template/boilerplate clusters), so instead emit
    // one STAR edge (hub = bucket min id, member) per overflow-bucket
    // member — O(n_full) pairs instead of O(n_full²), no aggregation
    // buffer at all (a min + a join), and the Jaccard verify still drops
    // false edges. CC connectivity through the hub restores FULL dedup
    // recall for homogeneous hot buckets; the reported pair LIST stays
    // truncated by design (it would be quadratic).
    val candidates = (if (!overflowStars) capped else {
      val hot = bucketsAll.filter(col("n_full") > maxBucketSize)
        .select(col("band_id"), col("band_hash"),
          col("ids")(0).as("hub")) // cappedIds is ascending: ids(0) = min
      val stars = banded.join(hot, Seq("band_id", "band_hash"))
        .filter(col("id") =!= col("hub"))
        .select(col("hub").as("id_a"), col("id").as("id_b"))
      capped.unionByName(stars)
    }).dropDuplicates("id_a", "id_b")
    // Verify with exact shingle Jaccard; only the (small) candidate set
    // carries arrays through a shuffle.
    val shs = df.select(col(idCol).cast(LongType).as("id"),
      shingles(tokens(col(textCol)), shingleSize).as("sh"))
    candidates
      .join(shs.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(shs.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** (id, sig) MinHash signature table — the per-document state an
    * incremental near-dup pipeline PUBLISHES (e.g. via
    * [[graft.engine.sources.SnapshotStore]]) so a daily batch never
    * re-reads or re-signs the historical corpus. Signatures are pure
    * functions of the text, so tables signed on different days with the
    * same (numHashes, shingleSize) compose. */
  def minHashSignatures(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 32, shingleSize: Int = 3): DataFrame =
    df.select(col(idCol).cast(LongType).as("id"),
      minhashSignature(shingles(tokens(col(textCol)), shingleSize), numHashes)
        .as("sig"))

  /** (id, band_id, band_hash) banding of a signature table — the ONE
    * banding formula both the batch path ([[minHashNearDups]]) and the
    * incremental path ([[incrementalMinHashNearDups]]) use, so their
    * buckets are mutually compatible. */
  private[llm] def bandedFromSigs(sigs: DataFrame, numHashes: Int,
      bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    sigs.withColumn("band",
        explode(transform(sequence(lit(0), lit(bands - 1)),
          b => struct(b.as("band_id"),
            xxhash64(concat_ws(",",
              slice(col("sig"), b * rows + 1, lit(rows))).cast("string")).as("band_hash")))))
      .select(col("id"),
        col("band.band_id").as("band_id"), col("band.band_hash").as("band_hash"))
  }

  /** X2a incremental — near-dup detection of an incoming batch against an
    * ALREADY-SIGNED corpus: the existing side is only its signature table
    * (published once per ingest), so a daily batch's cost is
    * O(batch + matching buckets), never a corpus re-scan — the steady-state
    * 100 TB posture, the near-dup sibling of [[bloomPrefilterDedup]].
    *
    * Candidates come from banding BOTH signature tables with the same
    * formula and joining incoming bands against size-capped existing
    * buckets (the partial-aggregating collector — same bounded posture as
    * everywhere else). Similarity is ESTIMATED from the signatures
    * (fraction of equal components — within ±~1/√numHashes of true
    * Jaccard), because the historical corpus's shingle sets are exactly
    * what this operator exists to not read; identical documents estimate
    * exactly 1.0 (equal signatures), which is the regime q91 value-pins.
    * Returns (id_in, id_ex, est_jaccard >= threshold). */
  def incrementalMinHashNearDups(incomingSigs: DataFrame,
      existingSigs: DataFrame, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5, maxBucketSize: Int = 1000): DataFrame =
    incrementalEstimate(
      incrementalCandidates(bandedFromSigs(incomingSigs, numHashes, bands),
        bandedFromSigs(existingSigs, numHashes, bands), maxBucketSize),
      incomingSigs, existingSigs, numHashes, threshold)

  /** Candidate stage shared by the on-the-fly and bucketed-table paths:
    * incoming bands join size-capped existing buckets. */
  private[llm] def incrementalCandidates(inBanded: DataFrame,
      exBanded: DataFrame, maxBucketSize: Int): DataFrame = {
    val exBuckets = exBanded
      .groupBy(col("band_id"), col("band_hash"))
      .agg(TopK.cappedIds(maxBucketSize, col("id")).as("ids"))
    inBanded.join(exBuckets, Seq("band_id", "band_hash"))
      .select(col("id").as("id_in"), explode(col("ids")).as("id_ex"))
      .dropDuplicates("id_in", "id_ex")
  }

  /** Estimate stage shared by the incremental paths: signature agreement
    * fraction over the (small) candidate set. */
  private[llm] def incrementalEstimate(candidates: DataFrame,
      incomingSigs: DataFrame, existingSigs: DataFrame, numHashes: Int,
      threshold: Double): DataFrame =
    candidates
      .join(incomingSigs.select(col("id").as("id_in"), col("sig").as("sig_in")),
        Seq("id_in"))
      .join(existingSigs.select(col("id").as("id_ex"), col("sig").as("sig_ex")),
        Seq("id_ex"))
      .withColumn("est_jaccard",
        aggregate(zip_with(col("sig_in"), col("sig_ex"),
            (a, b) => when(a === b, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / numHashes)
      .filter(col("est_jaccard") >= threshold)
      .select(col("id_in"), col("id_ex"),
        round(col("est_jaccard"), 6).as("est_jaccard"))

  /** Publish the history side's BANDED signatures as a store bucketed on
    * the band key, behind the session view `table`
    * ([[graft.engine.Artifacts.publishView]]: once per content-keyed
    * name), so every later ingest's candidate join reads history with NO
    * shuffle: the bucket aggregation and the band join both reuse the
    * scan's bucketing. The recurring cost of a daily ingest against a
    * 100 TB history is that join — bucketing moves the history shuffle
    * into the one-time write (shuffle-freedom plan-asserted in
    * DedupSpec). Returns the view. */
  def publishBandedSignatures(sigs: DataFrame, table: String,
      numHashes: Int = 32, bands: Int = 8, numBuckets: Int = 32): DataFrame =
    graft.engine.Artifacts.publishView(bandedFromSigs(sigs, numHashes, bands),
      table, "band_id,band_hash", numBuckets)

  /** [[incrementalMinHashNearDups]] against a bucketed band table written
    * by [[publishBandedSignatures]] (pass its view): identical
    * answer, but the history side contributes ZERO exchanges to the
    * candidate join — only the (small) incoming batch shuffles.
    * `existingSigs` is still needed for the estimate stage, which touches
    * only the candidate ids, never history-shaped data. */
  def incrementalMinHashNearDupsBanded(incomingSigs: DataFrame,
      existingBanded: DataFrame, existingSigs: DataFrame,
      numHashes: Int = 32, bands: Int = 8, threshold: Double = 0.5,
      maxBucketSize: Int = 1000): DataFrame =
    incrementalEstimate(
      incrementalCandidates(bandedFromSigs(incomingSigs, numHashes, bands),
        existingBanded, maxBucketSize),
      incomingSigs, existingSigs, numHashes, threshold)

  /** The candidate stage of [[incrementalMinHashNearDupsBanded]] alone:
    * band collisions against the published band table, NO estimate joins.
    * For callers that re-verify candidates by an exact predicate stronger
    * than est_jaccard >= 1.0 (content-key equality — identical text implies
    * identical signatures implies est 1.0), the estimate stage is provably
    * redundant work: two signature joins and a zip_with/aggregate kernel
    * per call. The streaming curation tick is exactly that caller.
    *
    * Recall caveat (inherited from [[incrementalCandidates]]): existing-
    * side band buckets are TRUNCATED at `maxBucketSize`, so in an
    * overflowing bucket a true duplicate can be silently absent from the
    * candidates. A caller claiming verified-drop semantics must first
    * prove nothing overflows — [[incrementalCapOverflow]] == 0, which
    * [[graft.engine.streaming.Streaming.streamingCuration]] asserts once
    * at bootstrap. */
  def incrementalNearDupCandidatesBanded(incomingSigs: DataFrame,
      existingBanded: DataFrame, numHashes: Int = 32, bands: Int = 8,
      maxBucketSize: Int = 1000): DataFrame =
    incrementalCandidates(bandedFromSigs(incomingSigs, numHashes, bands),
      existingBanded, maxBucketSize)

  /** Truncation telemetry for [[incrementalMinHashNearDups]]'s existing-
    * side buckets (recall guaranteed iff 0 — x43's contract shape). */
  def incrementalCapOverflow(existingSigs: DataFrame, numHashes: Int = 32,
      bands: Int = 8, maxBucketSize: Int = 1000): DataFrame =
    bandedFromSigs(existingSigs, numHashes, bands)
      .groupBy(col("band_id"), col("band_hash"))
      .agg(count(lit(1)).as("n"))
      .agg(coalesce(sum(when(col("n") > maxBucketSize, 1L).otherwise(0L)),
             lit(0L)).cast(LongType).as("n_overflow_buckets"),
           coalesce(max(col("n")), lit(0L)).cast(LongType)
             .as("max_bucket_size"))

  /** X2b — SimHash near-dups: 64-bit fingerprint (custom Catalyst
    * expression), candidates from band collisions, verified by exact
    * Hamming distance via bit_count(xor).
    *
    * The fingerprint is split into `maxHamming + 1` contiguous bands
    * (capped at 16), so by pigeonhole any pair within the requested Hamming
    * radius shares at least one unchanged band — candidate recall is
    * guaranteed for maxHamming <= 15; beyond that (16 4-bit bands)
    * candidates are best-effort.
    *
    * Candidates come from grouping per (band, value) bucket and expanding
    * in-bucket combinations, with `maxBucketSize` capping the quadratic
    * expansion of a degenerate bucket (near-empty/template documents
    * collapse to few distinct fingerprints at 100 TB — uncapped, one hot
    * bucket goes quadratic; capped, its members still pair transitively
    * through the survivors). Fingerprints ride along in the bucket struct,
    * so verification needs no join back to the corpus.
    *
    * The cap means recall is only guaranteed while every bucket fits in
    * `maxBucketSize`; use [[simHashCapOverflow]] to check whether any
    * bucket overflowed (and pair truncation is possible) on a given corpus.
    */
  def simHashNearDups(df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = 1000): DataFrame =
    simHashPairsFromBuckets(
      simHashBuckets(df, textCol, idCol, maxHamming, maxBucketSize), maxHamming)

  /** Bucket aggregation shared by pair expansion and overflow telemetry:
    * per (band, value) the size-capped member list PLUS the uncapped
    * member count (`n_full`) — so a caller can persist this one result and
    * derive both the near-dup pairs and the truncation stats without a
    * second scan of the corpus (see x43). */
  private[llm] def simHashBuckets(df: DataFrame, textCol: String,
      idCol: String, maxHamming: Int, maxBucketSize: Int): DataFrame =
    // partial-aggregating capped collector (CappedIdSimAggregator — the
    // struct-capable sibling of embeddingBuckets' CappedIdsAggregator):
    // every partial and merge buffer holds <= maxBucketSize (id, sim)
    // pairs, where a collect_list-then-slice would buffer the FULL hot
    // bucket before capping; n_full still counts uncapped membership for
    // the truncation telemetry.
    fingerprintBuckets(
      simHashBanded(df, textCol, idCol, maxHamming), maxBucketSize)

  /** The capped bucket aggregation over ANY banded fingerprint rows —
    * shared by SimHash text dedup and pHash image dedup
    * ([[Multimodal.imageNearDups]]). */
  private[llm] def fingerprintBuckets(banded: DataFrame,
      maxBucketSize: Int): DataFrame =
    banded
      .groupBy(col("band_id"), col("band_val"))
      .agg(TopK.cappedIdSims(maxBucketSize, col("id"), col("sim")).as("rows"),
        count(lit(1)).cast(LongType).as("n_full"))

  /** Hamming-banded near-dup pairs for ANY precomputed 64-bit
    * fingerprint column: the SimHash pipeline with the fingerprint
    * supplied by the caller (e.g. an image perceptual hash) instead of
    * computed from text. Same banding pigeonhole, capped buckets, and
    * verified pair expansion. */
  def fingerprintNearDups(df: DataFrame, idCol: String, fp: Column,
      maxHamming: Int = 3, maxBucketSize: Int = 1000): DataFrame =
    simHashPairsFromBuckets(
      fingerprintBuckets(
        fingerprintBanded(df, idCol, fp, maxHamming), maxBucketSize),
      maxHamming)

  /** Expand capped buckets into verified (id_a, id_b, hamming) pairs. */
  private[llm] def simHashPairsFromBuckets(buckets: DataFrame,
      maxHamming: Int): DataFrame =
    buckets
      .filter(size(col("rows")) > 1)
      .select(explode(flatten(transform(col("rows"), (x, i) =>
        transform(slice(col("rows"), i + 2, size(col("rows"))),
          y => struct(x.getField("id").as("id_a"), y.getField("id").as("id_b"),
            x.getField("sim").as("sim_a"), y.getField("sim").as("sim_b")))))).as("p"))
      .select(col("p.id_a"), col("p.id_b"),
        bit_count(col("p.sim_a").bitwiseXOR(col("p.sim_b"))).cast(LongType).as("hamming"))
      .dropDuplicates("id_a", "id_b")
      .filter(col("hamming") <= maxHamming)

  /** Banded (id, sim, band_id, band_val) rows backing SimHash LSH: the
    * 64-bit fingerprint split into `min(maxHamming + 1, 16)` contiguous
    * bands (pigeonhole: a pair within the radius shares a band). */
  private[llm] def simHashBanded(df: DataFrame, textCol: String,
      idCol: String, maxHamming: Int): DataFrame =
    fingerprintBanded(df, idCol, F.simHash64(tokens(col(textCol))),
      maxHamming)

  /** [[simHashBanded]] for a caller-supplied 64-bit fingerprint. */
  private[llm] def fingerprintBanded(df: DataFrame, idCol: String,
      fp: Column, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0, "maxHamming must be >= 0")
    val bands = math.min(maxHamming + 1, 16)
    val bounds = (0 to bands).map(b => b * 64 / bands)
    val base = df.select(col(idCol).cast(LongType).as("id"), fp.as("sim"))
    base.select(col("id"), col("sim"),
      explode(array((0 until bands).map { b =>
        val width = bounds(b + 1) - bounds(b)
        // 1L << 64 == 1L (JVM masks the shift count), so a full-width band
        // needs the all-ones mask spelled out or every band_val collapses
        // to 0 — one giant bucket that the size cap then truncates.
        val mask = if (width >= 64) -1L else (1L << width) - 1
        struct(lit(b).as("band_id"),
          shiftrightunsigned(col("sim"), bounds(b))
            .bitwiseAND(lit(mask)).as("band_val"))
      }: _*)).as("band"))
      .select(col("id"), col("sim"),
        col("band.band_id").as("band_id"), col("band.band_val").as("band_val"))
  }

  /** Truncation telemetry for [[simHashNearDups]]: one row
    * (n_overflow_buckets, max_bucket_size). n_overflow_buckets > 0 means
    * some (band, value) bucket exceeded `maxBucketSize`, so the pair list
    * MAY undercount — the guaranteed-recall claim only holds when this
    * reports 0. Cheap: reuses the banding plan, aggregates to one row.
    * Coalesced so an empty corpus reads (0, 0) — the documented
    * "recall guaranteed iff 0" check must never see NULL. */
  def simHashCapOverflow(df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = 1000): DataFrame =
    simHashBanded(df, textCol, idCol, maxHamming)
      .groupBy(col("band_id"), col("band_val"))
      .agg(count(lit(1)).as("n"))
      .agg(coalesce(sum(when(col("n") > maxBucketSize, 1L).otherwise(0L)),
             lit(0L)).cast(LongType).as("n_overflow_buckets"),
           coalesce(max(col("n")), lit(0L)).cast(LongType)
             .as("max_bucket_size"))

  /** Connected components over near-dup pairs: min-label propagation with
    * pointer-doubling shortcutting. Each round every vertex adopts the
    * smallest label among itself and its neighbors, then shortcuts
    * `comp(u) ← comp(comp(u))` — the shortcut halves the remaining label
    * path, so rounds are O(log diameter) instead of O(diameter) (a 100 TB
    * corpus with chain-shaped near-dup clusters stays in single-digit
    * rounds).
    *
    * Per round: one join + one aggregation + one self-join, materialized by
    * a single `localCheckpoint` action (on a cluster prefer `checkpoint()`
    * with a reliable dir; same semantics). That action IS the convergence
    * test, so detecting the fixed point costs no extra round: the labels
    * have converged iff no edge joins two different labels. Then every
    * component carries one label, and that label is its min id — labels
    * only ever decrease, every label is the id of a vertex in the same
    * component, and the min vertex starts at its own id, so it can never
    * leave it. A graph whose clusters are stars around their min id (every
    * pair-only graph) therefore finishes in ONE round.
    *
    * Throws `IllegalStateException` if `maxIter` rounds pass without
    * convergence (silently returning partial labels would make the caller
    * keep extra duplicates). Detection takes no round of its own, so
    * `maxIter` rounds cover a component diameter of ~2^maxIter: the
    * default 21 keeps the advertised ~2^20 with one doubling to spare.
    *
    * Returns (id, component) where component = min id in the cluster.
    */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxIter: Int = 21): DataFrame = {
    // every round joins against this; checkpointed so it computes once.
    // NON-eager: materialization folds into the first round's convergence
    // job instead of paying a separate driver-sequenced job up front (the
    // loop is fixed-cost-bound at harness scale — r6 profile: eager
    // checkpoints put CC at ~2 s of pure job latency on a 40-edge graph).
    val edges = pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .union(pairs.select(col(idB).as("src"), col(idA).as("dst")))
      .localCheckpoint(eager = false)
    var comp = edges.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))
      .localCheckpoint(eager = false) // materialized by round 1's check
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val msgs = edges.join(comp, edges("src") === comp("id"))
        .select(col("dst").as("id"), col("comp"))
      val propagated = msgs.union(comp.select(col("id"), col("comp")))
        .groupBy(col("id")).agg(min(col("comp")).as("comp"))
      // pointer doubling: labels are always ids of in-graph vertices, so the
      // self-join resolves comp(comp(u)) for every row
      val lookup = propagated.select(col("id").as("cid"), col("comp").as("ccomp"))
      val updated = propagated.join(lookup, propagated("comp") === lookup("cid"), "left")
        .select(propagated("id"),
          least(propagated("comp"), coalesce(col("ccomp"), propagated("comp"))).as("comp"))
        .localCheckpoint(eager = false) // materialized by this round's check
      // edges are symmetric, so one direction covers every edge
      val src = updated.select(col("id").as("s_id"), col("comp").as("s_comp"))
      val dst = updated.select(col("id").as("d_id"), col("comp").as("d_comp"))
      converged = edges.filter(col("src") < col("dst"))
        .join(src, col("src") === col("s_id"))
        .join(dst, col("dst") === col("d_id"))
        .filter(col("s_comp") =!= col("d_comp"))
        .count() == 0L
      comp = updated
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds " +
          "(component diameter > 2^maxIter?); refusing to return partial labels")
    comp
  }

  /** End-to-end near-duplicate removal: MinHash candidate pairs →
    * transitive clusters → keep the lowest-id document of each cluster
    * (plus every unpaired document). This is the operator an LLM data
    * pipeline actually runs; the pair/cluster stages are its observables.
    */
  def dedupNearDuplicates(df: DataFrame, textCol: String, idCol: String,
      jaccardThreshold: Double = 0.5): DataFrame = {
    val pairs = minHashNearDups(df, textCol, idCol,
      jaccardThreshold = jaccardThreshold)
    val clusters = connectedComponents(pairs)
    val losers = clusters.filter(col("id") =!= col("comp"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** X2c — exact token-set Jaccard between blocked pairs (the verifiable
    * small-block twin of the MinHash path; blocking keys bound the
    * pair count, |Δ n_chars| prunes hopeless pairs before the set ops). */
  def blockedJaccardPairs(df: DataFrame, textCol: String, idCol: String,
      blockCols: Seq[String], lengthCol: String, maxLengthDelta: Int): DataFrame = {
    val base = df.select(col(idCol).cast(LongType).as("id"),
      array_distinct(tokens(col(textCol))).as("tok"),
      col(lengthCol).as("len"),
      struct(blockCols.map(col): _*).as("blk"))
    val a = base.select(col("blk"), col("id").as("id_a"),
      col("tok").as("tok_a"), col("len").as("len_a"))
    val b = base.select(col("blk"), col("id").as("id_b"),
      col("tok").as("tok_b"), col("len").as("len_b"))
    a.join(b, Seq("blk"))
      .filter(col("id_a") < col("id_b") &&
        abs(col("len_a") - col("len_b")) <= maxLengthDelta)
      .withColumn("jaccard",
        size(array_intersect(col("tok_a"), col("tok_b"))).cast("double") /
          size(array_union(col("tok_a"), col("tok_b"))))
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }
}
