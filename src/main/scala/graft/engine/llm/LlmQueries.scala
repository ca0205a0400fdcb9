package graft.engine.llm

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.engine.{Artifacts, GraftQuery, Par, Tables}
import graft.engine.relational.Exact._

/** Driver-verifiable queries for the LLM-pipeline extensions (X1–X4 + the
  * similarity path of X3). SQL-expressible semantics get DuckDB oracles;
  * the hash-family operators (MinHash/SimHash — engine-specific hash
  * functions) register as rows-only summaries and are correctness-tested
  * with planted near-duplicates in ScalaTest instead.
  */
object LlmQueries {

  /** q40 — X1 exact dedup: lowest doc_id survives per normalized content. */
  val q40 = GraftQuery(
    "q40_dedup_exact",
    (spark, sfDir) =>
      Dedup.exactDedup(Tables.documents(spark, sfDir), "text", "doc_id")
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
        .limit(2000),
    Some("""SELECT doc_id, source FROM (
        SELECT doc_id, source,
          ROW_NUMBER() OVER (PARTITION BY md5(lower(trim(text)))
            ORDER BY doc_id ASC) AS rn
        FROM documents) t
      WHERE rn = 1 ORDER BY doc_id LIMIT 2000"""),
    doc = "exact dedup via md5(normalized text), keep min id")

  /** q41 — X2 exact token-set Jaccard on blocked pairs. */
  val q41 = GraftQuery(
    "q41_ngram_jaccard",
    (spark, sfDir) =>
      Dedup.blockedJaccardPairs(Tables.documents(spark, sfDir), "text", "doc_id",
          Seq("lang", "source"), "n_chars", maxLengthDelta = 20)
        .withColumn("jaccard", round(col("jaccard"), 6))
        .orderBy(col("jaccard").desc, col("id_a"), col("id_b"))
        .limit(100),
    Some("""WITH base AS (
        SELECT doc_id AS id,
          list_distinct(string_split_regex(lower(trim(text)), '\s+')) AS tok,
          n_chars AS len, lang, source
        FROM documents)
      SELECT a.id AS id_a, b.id AS id_b,
        ROUND(CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
          / len(list_distinct(list_concat(a.tok, b.tok))), 6) AS jaccard
      FROM base a JOIN base b
        ON a.lang = b.lang AND a.source = b.source
        AND a.id < b.id AND abs(a.len - b.len) <= 20
      ORDER BY jaccard DESC, id_a, id_b LIMIT 100"""),
    doc = "blocked exact Jaccard pairs (lang+source blocks, |Δlen|<=20)")

  /** q44 — X3 exact cosine top-5 for 10 query vectors (custom Catalyst
    * CosineSimilarity expression on the Spark side). */
  val q44 = GraftQuery(
    "q44_cosine_topk",
    (spark, sfDir) => {
      val emb = Tables.embeddings(spark, sfDir)
      Similarity.bruteForceTopKAgg(emb, emb.filter(col("vec_id") < 10), k = 5)
        .orderBy(col("qid"), col("rnk"))
    },
    Some("""WITH e AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        FROM embeddings),
      q AS (SELECT vec_id AS qid, emb AS qe FROM e WHERE vec_id < 10),
      pairs AS (SELECT q.qid, e.vec_id AS nid,
          list_dot_product(q.qe, e.emb) AS dot,
          sqrt(list_dot_product(q.qe, q.qe)) * sqrt(list_dot_product(e.emb, e.emb)) AS nrm
        FROM q, e WHERE e.vec_id <> q.qid),
      ranked AS (SELECT qid, nid,
          CASE WHEN nrm = 0 THEN 0.0 ELSE dot / nrm END AS cos,
          ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY CASE WHEN nrm = 0 THEN 0.0 ELSE dot / nrm END DESC,
              nid ASC) AS rnk
        FROM pairs)
      SELECT qid, CAST(rnk AS BIGINT) AS rnk, nid, ROUND(cos, 6) AS cosine
      FROM ranked WHERE rnk <= 5 ORDER BY qid, rnk"""),
    doc = "brute-force cosine top-k, broadcast query set")

  /** q84 — product quantization (X3 compressed-corpus ANN) ORACLE-checked
    * in its LOSSLESS regime: with every distinct subvector a centroid
    * (`pqCodebooksExact`), encoding is an identity, so the full ADC
    * machinery — encode, per-query LUTs, LUT-sum cosine, partial top-k —
    * must reproduce the exact cosine top-k that DuckDB computes
    * independently (q44's formulation on the same pinned 100-vector
    * corpus). A wrong LUT index, code, or denominator breaks the row
    * values. Ranks only (the ADC cosine groups FP additions by subspace,
    * so its 6-dp rounding is not bit-stable against a linear-sum twin);
    * x47 measures the trained-codebook approximate regime. */
  val q84 = GraftQuery(
    "q84_pq_exact",
    (spark, sfDir) => {
      val emb = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 100)
      val books = Similarity.pqCodebooksExact(emb, m = 4)
      Similarity.pqTopK(emb, emb.filter(col("vec_id") < 10), k = 5, books)
        .select(col("qid"), col("rnk"), col("nid"))
        .orderBy(col("qid"), col("rnk"))
    },
    Some("""WITH e AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        FROM embeddings WHERE vec_id < 100),
      q AS (SELECT vec_id AS qid, emb AS qe FROM e WHERE vec_id < 10),
      pairs AS (SELECT q.qid, e.vec_id AS nid,
          list_dot_product(q.qe, e.emb) AS dot,
          sqrt(list_dot_product(q.qe, q.qe)) * sqrt(list_dot_product(e.emb, e.emb)) AS nrm
        FROM q, e WHERE e.vec_id <> q.qid),
      ranked AS (SELECT qid, nid,
          ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY CASE WHEN nrm = 0 THEN 0.0 ELSE dot / nrm END DESC,
              nid ASC) AS rnk
        FROM pairs)
      SELECT qid, CAST(rnk AS BIGINT) AS rnk, nid
      FROM ranked WHERE rnk <= 5 ORDER BY qid, rnk"""),
    doc = "PQ ADC top-k in the lossless-codebook regime == exact cosine ranking")

  /** q46 — X4 per-language corpus statistics. */
  val q46 = GraftQuery(
    "q46_text_stats",
    (spark, sfDir) =>
      TextAnalysis.docStats(Tables.documents(spark, sfDir), "text")
        .groupBy(col("lang"))
        .agg(lcount().as("n_docs"),
          davg(col("n_words").cast("double")).as("avg_words"),
          davg(col("ttr")).as("avg_ttr"),
          davg(col("mean_word_len")).as("avg_word_len"))
        .orderBy(col("lang")),
    Some(s"""WITH stats AS (
        SELECT lang,
          len(string_split_regex(lower(trim(text)), '\\s+')) AS n_words,
          len(list_distinct(string_split_regex(lower(trim(text)), '\\s+'))) AS n_distinct,
          list_aggregate(list_transform(string_split_regex(lower(trim(text)), '\\s+'),
            w -> length(w)), 'sum') AS total_chars
        FROM documents),
      per_doc AS (
        SELECT lang, n_words,
          ROUND(CAST(n_distinct AS DOUBLE) / n_words, 6) AS ttr,
          ROUND(CAST(total_chars AS DOUBLE) / n_words, 6) AS mean_word_len
        FROM stats)
      SELECT lang, COUNT(*) AS n_docs,
        ${sqlDavg("CAST(n_words AS DOUBLE)")} AS avg_words,
        ${sqlDavg("ttr")} AS avg_ttr,
        ${sqlDavg("mean_word_len")} AS avg_word_len
      FROM per_doc GROUP BY lang ORDER BY lang"""),
    doc = "per-language doc stats: words, type-token ratio, word length")

  /** q47 — X4 quality scoring with keep/drop decision. */
  val q47 = GraftQuery(
    "q47_quality_score",
    (spark, sfDir) =>
      TextAnalysis.qualityScore(Tables.documents(spark, sfDir), "text")
        .select(col("doc_id"), col("n_words"), col("stopword_ratio"),
          col("digit_ratio"), col("length_score"), col("quality"), col("keep"))
        .orderBy(col("doc_id"))
        .limit(500),
    Some(s"""WITH base AS (
        SELECT doc_id, text,
          string_split_regex(lower(trim(text)), '\\s+') AS ws
        FROM documents),
      scored AS (
        SELECT doc_id,
          CAST(len(ws) AS BIGINT) AS n_words,
          CAST(len(list_filter(ws, w -> list_contains(
            ${TextAnalysis.markers.values.flatten.toSeq.distinct.sorted.mkString("['", "','", "']")},
            w))) AS DOUBLE) / len(ws) AS sw_raw,
          CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
            / length(text) AS dg_raw,
          CASE WHEN len(ws) BETWEEN 20 AND 2000 THEN 1.0
               WHEN len(ws) BETWEEN 5 AND 5000 THEN 0.5
               ELSE 0.0 END AS length_score
        FROM base)
      SELECT doc_id, n_words, ROUND(sw_raw, 6) AS stopword_ratio,
        ROUND(dg_raw, 6) AS digit_ratio, length_score,
        ROUND(0.5 * length_score + 0.3 * least(sw_raw * 5.0, 1.0)
          + 0.2 * (1.0 - least(dg_raw * 10.0, 1.0)), 6) AS quality,
        CAST(ROUND(0.5 * length_score + 0.3 * least(sw_raw * 5.0, 1.0)
          + 0.2 * (1.0 - least(dg_raw * 10.0, 1.0)), 6) >= 0.5 AS BIGINT) AS keep
      FROM scored ORDER BY doc_id LIMIT 500"""),
    doc = "quality heuristics: length, stopword ratio, digit noise")

  /** q48 — X4 BPE-ish token counting per source. */
  val q48 = GraftQuery(
    "q48_token_count",
    (spark, sfDir) =>
      Tables.documents(spark, sfDir)
        .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
        .groupBy(col("source"))
        .agg(lcount().as("n_docs"),
          sum(col("n_tokens")).cast(LongType).as("total_tokens"),
          davg(col("n_tokens").cast("double")).as("avg_tokens"))
        .orderBy(col("source")),
    Some(s"""WITH t AS (SELECT source,
        len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]', 0)) AS n_tokens
      FROM documents)
      SELECT source, COUNT(*) AS n_docs,
        CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        ${sqlDavg("CAST(n_tokens AS DOUBLE)")} AS avg_tokens
      FROM t GROUP BY source ORDER BY source"""),
    doc = "regex pre-tokenizer counts per source")

  /** q109 — learned-vocabulary token counts (q48's successor, VERDICT r9
    * gap 4): a 16-word vocabulary trained deterministically from the
    * corpus (top frequency, word-asc tie-break), then greedy
    * longest-match counting through the native trie kernel. The oracle
    * replays the ENTIRE operator in SQL — vocabulary training (same
    * frequency ranking) AND tokenization (the leftmost-first regex
    * alternation twin, built dynamically with string_agg) — so a drift in
    * either half breaks value equality. The 16-of-30-words vocabulary is
    * deliberately partial: uncovered words tokenize char-by-char, so
    * every row's vocab count differs from the regex proxy (the two
    * columns would otherwise be indistinguishable). */
  val q109 = GraftQuery(
    "q109_vocab_tokens",
    (spark, sfDir) => {
      val docs = Tables.documents(spark, sfDir)
      val vocab = Tokenizer.trainWordVocab(docs, "text", 16)
      // fanOut: two trie/regex kernels over a one-row-group scan
      graft.engine.Par.fanOut(docs, col("doc_id"))
        .select(col("doc_id"),
          Tokenizer.tokenCount(col("text"), vocab).as("n_tok_vocab"),
          TextAnalysis.tokenCount(col("text")).as("n_tok_regex"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH ${Tokenizer.sqlVocabCtes(16)}
      SELECT doc_id,
        CAST(len(regexp_extract_all(lower(text), (SELECT pat FROM p), 0))
          AS BIGINT) AS n_tok_vocab,
        CAST(len(regexp_extract_all(lower(text),
          '[a-z]+|[0-9]+|[^a-z0-9\\s]', 0)) AS BIGINT) AS n_tok_regex
      FROM documents ORDER BY doc_id"""),
    doc = "learned-vocab greedy longest-match token counts; oracle " +
      "replays training AND tokenization (dynamic alternation pattern)")

  /** q113 — SUBWORD tokenization (the BPE-family capability): a 24-unit
    * character-n-gram vocabulary trained in one aggregation, then the
    * same greedy longest-match kernel. Unseen words decompose into
    * learned pieces ("joining" → "join","in","g"), not single chars.
    * Like q109 the oracle replays BOTH halves — n-gram generation within
    * words (unnest(range) in DuckDB must equal the guarded sequence/
    * transform in Spark, including the short-word empty case), frequency
    * ranking, and the alternation tokenize. */
  val q113 = GraftQuery(
    "q113_subword_tokens",
    (spark, sfDir) => {
      val docs = Tables.documents(spark, sfDir)
      val vocab = Tokenizer.trainNgramVocab(docs, "text", 24)
      // fanOut: q109's argument for the subword trie kernel
      graft.engine.Par.fanOut(docs, col("doc_id"))
        .select(col("doc_id"),
          Tokenizer.tokenCount(col("text"), vocab).as("n_tok_subword"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH words AS (SELECT unnest(regexp_extract_all(lower(text),
          '[a-z]+|[0-9]+')) AS w FROM documents),
      pos AS (SELECT w, unnest(range(2, 7)) AS n FROM words),
      grams AS (SELECT substr(w, CAST(i AS INT), CAST(n AS INT)) AS g
        FROM (SELECT w, n, unnest(range(1, length(w) - n + 2)) AS i FROM pos)),
      v AS (SELECT g FROM (SELECT g, count(*) AS c FROM grams
        GROUP BY g ORDER BY c DESC, g LIMIT 24)),
      p AS (SELECT '(' || string_agg(g, '|' ORDER BY length(g) DESC, g)
        || '|[^ \x09\x0A\x0B\x0C\x0D])' AS pat FROM v)
      SELECT doc_id,
        CAST(len(regexp_extract_all(lower(text), (SELECT pat FROM p), 0))
          AS BIGINT) AS n_tok_subword
      FROM documents ORDER BY doc_id"""),
    doc = "subword n-gram vocab (one-pass BPE-family training) + greedy " +
      "longest-match; oracle replays gram generation, ranking, tokenize")

  /** q114 — per-source QUANTILE-FLOOR curation: drop each source's worst
    * quartile by quality score, with the threshold computed by the
    * mergeable quantile sketch (q110's operator) in its EXACT regime
    * (k = 4096 >= every per-source group at both SFs, so the sketch
    * threshold IS the ceil(q·n)-th smallest score — the "below capacity"
    * contract QuantileSketchSpec pins). Composes q47's oracle-proven
    * scoring with q110's sketch machinery; DuckDB recomputes score,
    * per-source exact threshold, and survivor set end to end. */
  val q114 = GraftQuery(
    "q114_quantile_floor",
    (spark, sfDir) => {
      val scored = TextAnalysis.qualityScore(
        Tables.documents(spark, sfDir), "text")
      Curation.quantileFloor(scored, "source", "quality", q = 0.25, k = 4096)
        .select(col("doc_id"), col("source"), col("quality"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH base AS (
        SELECT doc_id, source, text,
          string_split_regex(lower(trim(text)), '\\s+') AS ws
        FROM documents),
      scored AS (
        SELECT doc_id, source,
          ROUND(0.5 * (CASE WHEN len(ws) BETWEEN 20 AND 2000 THEN 1.0
               WHEN len(ws) BETWEEN 5 AND 5000 THEN 0.5
               ELSE 0.0 END)
            + 0.3 * least((CAST(len(list_filter(ws, w -> list_contains(
                ${TextAnalysis.markers.values.flatten.toSeq.distinct.sorted
                  .mkString("['", "','", "']")},
                w))) AS DOUBLE) / len(ws)) * 5.0, 1.0)
            + 0.2 * (1.0 - least((CAST(length(text) -
                length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
                / length(text)) * 10.0, 1.0)), 6) AS quality
        FROM base),
      n AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
        FROM scored GROUP BY 1),
      r AS (SELECT source, quality,
          ROW_NUMBER() OVER (PARTITION BY source ORDER BY quality) AS rn
        FROM scored),
      thr AS (SELECT r.source, r.quality AS thr
        FROM r JOIN n USING (source)
        WHERE rn = CAST(CEIL(0.25 * n) AS BIGINT))
      SELECT s.doc_id, s.source, s.quality
      FROM scored s JOIN thr t
        ON s.source = t.source AND s.quality >= t.thr
      ORDER BY s.doc_id"""),
    doc = "per-source p25 quality floor via mergeable quantile sketch " +
      "(exact regime); oracle replays score, threshold, survivors")

  /** q115 — the PUBLISHED-vocabulary lifecycle (the tokenizer artifact
    * under q111's train-once/version-forever posture): the vocabulary is
    * trained on the ALREADY-INGESTED half of the corpus, published as a
    * versioned store table, and a NEW ingest batch is tokenized against
    * the version loaded BACK from the store — the production shape, where
    * the vocabulary freezes before tomorrow's data arrives and token
    * budgets stay comparable across batches. The oracle retrains on the
    * same frozen half in SQL and replays the tokenize over the new batch;
    * a drift in publish/load order (rank column), a lost token, or
    * training leakage from the new batch all break value equality. */
  val q115 = GraftQuery(
    "q115_published_vocab",
    (spark, sfDir) => {
      // session-shared artifact (Artifacts scaladoc): q115/q132/q133/q134
      // all pin the same deterministic frozen-half vocabulary — publish
      // once per session, load everywhere
      val root = graft.engine.Artifacts.root("vocab16f", sfDir) + "/vocab"
      val docs = Tables.documents(spark, sfDir)
      val frozen = docs.filter(col("doc_id") < 250)
      val vocab = Tokenizer.ensureVocab(spark, root)(
        Tokenizer.trainWordVocab(frozen, "text", 16))
      docs.filter(col("doc_id") >= 250)
        .select(col("doc_id"),
          Tokenizer.tokenCount(col("text"), vocab).as("n_tok_vocab"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH ${Tokenizer.sqlVocabCtes(16, " WHERE doc_id < 250")}
      SELECT doc_id,
        CAST(len(regexp_extract_all(lower(text), (SELECT pat FROM p), 0))
          AS BIGINT) AS n_tok_vocab
      FROM documents WHERE doc_id >= 250 ORDER BY doc_id"""),
    doc = "published-vocabulary tokenize: train on the frozen half, " +
      "publish, load, tokenize the new batch; oracle retrains + replays")

  /** q132 — token-ID ENCODING under the published vocabulary: the final
    * artifact of the tokenizer lifecycle (a trainer consumes id
    * sequences, not piece strings). Train on the frozen half, publish,
    * load, encode the new batch — every id in every doc's sequence
    * value-replayed: DuckDB retrains the ranked vocab, rebuilds the
    * alternation (the trie's exact semantics, q109's contract), and maps
    * each piece through the rank MAP with -1 for out-of-vocab
    * single-char fallbacks. The order-sensitive ids_str pins sequence
    * ORDER, not just membership. */
  val q132 = GraftQuery(
    "q132_token_ids",
    (spark, sfDir) => {
      val root = graft.engine.Artifacts.root("vocab16f", sfDir) + "/vocab"
      val docs = Tables.documents(spark, sfDir)
      val frozen = docs.filter(col("doc_id") < 250)
      val vocab = Tokenizer.ensureVocab(spark, root)(
        Tokenizer.trainWordVocab(frozen, "text", 16))
      docs.filter(col("doc_id") >= 250)
        .select(col("doc_id"),
          Tokenizer.tokenIds(col("text"), vocab).as("ids"))
        .select(col("doc_id"),
          expr("array_join(transform(ids, x -> cast(x as string)), ' ')")
            .as("ids_str"),
          size(col("ids")).cast(LongType).as("n_ids"),
          expr("size(filter(ids, x -> x = -1L))").cast(LongType)
            .as("n_unk"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH ${Tokenizer.sqlVocabRankedCtes(16, " WHERE doc_id < 250")},
      li AS (SELECT doc_id, list_transform(
          regexp_extract_all(lower(text), (SELECT pat FROM p), 0),
          t -> CAST(COALESCE((vm[t])[1], -1) AS BIGINT)) AS ids
        FROM documents CROSS JOIN m WHERE doc_id >= 250)
      SELECT doc_id, array_to_string(ids, ' ') AS ids_str,
        CAST(len(ids) AS BIGINT) AS n_ids,
        CAST(len(list_filter(ids, x -> x = -1)) AS BIGINT) AS n_unk
      FROM li ORDER BY doc_id"""),
    doc = "token-ID encoding under the published vocab: ids in sequence " +
      "order + UNK accounting, every id value-replayed (ranked-vocab " +
      "MAP over the trie-equivalent alternation)")

  /** q133 — the END-TO-END TRAINING-EXPORT pipeline (q88's sibling built
    * from the round-12 stages, each individually oracle-verified):
    * exact dedup FIRST (q40's operator — the hot-bucket design rule:
    * identical docs collapse before any span machinery sees them; the
    * planted whole-doc copies die here) → boilerplate strip over the
    * SURVIVORS ([[Dedup.trimRepeatedSpans]], q131 — spans that still
    * repeat across DISTINCT docs) → drop sub-40-char residues
    * (fully-boilerplate docs) → incremental decontamination gate against
    * the PUBLISHED benchmark n-gram store with a 0.5 contamination
    * ceiling (q129) → learned token accounting under the PUBLISHED
    * vocabulary (q115) → deterministic shuffle-shard export stats
    * (q130) → the MATERIALIZED trainer artifact
    * ([[Curation.ensurePackedSequences]], q134's packing in
    * [[Curation.writePackedSequences]]'s shard layout, read back and
    * pinned per shard: packed_tokens == shard_tokens and n_sequences ==
    * ceil(shard_tokens/512) in DuckDB). What this pins
    * beyond the pieces: the schema handoffs (trimmed text feeds dedup's
    * content key feeds the n-gram gate), artifact lifecycles inside a
    * composition, and the funnel counts at every stage. DuckDB replays
    * the ENTIRE chain from raw text. */
  val q133 = GraftQuery(
    "q133_training_export_e2e",
    (spark, sfDir) => {
      val docs = Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text"))
      val nDocs = docs.count()
      val corpus = docs.unionByName(
        docs.filter(col("doc_id") % 25 === 0)
          .select((col("doc_id") + nDocs).as("doc_id"), col("text")))
      // session-shared artifacts (Artifacts scaladoc): the bench13 table
      // is q129/x64's, the frozen-half vocabulary is q115/q132/q134's —
      // whoever runs first publishes, everyone else skips the cold write
      val table = graft.engine.Artifacts.table("bench13", sfDir)
      Curation.ensureBenchmarkNgrams(spark,
        docs.filter(col("doc_id") < 25), "text", table, n = 13)
      val vocab = Tokenizer.ensureVocab(spark,
        graft.engine.Artifacts.root("vocab16f", sfDir) + "/vocab")(
        Tokenizer.trainWordVocab(docs.filter(col("doc_id") < 250),
          "text", 16))
      locally {
        // 1. exact dedup first (one cheap content-key shuffle) so
        // identical docs can't masquerade as cross-doc repeated spans
        val deduped = Dedup.exactDedup(corpus, "text", "doc_id")
          .localCheckpoint()
        // 2. boilerplate strip over the distinct survivors, then drop
        // residues shorter than the span window (all-boilerplate docs)
        val trimmed = Dedup
          .trimRepeatedSpans(deduped, "text", "doc_id", minLen = 40)
          .select(col("doc_id"), col("trimmed_text").as("text"))
          .filter(length(col("text")) >= 40)
          .localCheckpoint()
        // 3. eval-leakage gate vs the frozen benchmark store
        val flags = Curation.contaminationBucketed(
          trimmed, spark.table(table), "text", "doc_id", n = 13)
        val clean = trimmed.join(
            flags.filter(col("contamination") <= 0.5).select(col("doc_id")),
            Seq("doc_id"), "left_semi")
          .localCheckpoint()
        // 4. budgets in LEARNED tokens under the published vocabulary.
        // Stages 4 and 6 share ONE tokenizer pass (VERDICT r19 item 6,
        // the shave flagged in r7): encode the gated survivors once and
        // take stage 4's budget as the encoded length — the same
        // quantity (this query's own packed_tokens == shard_tokens pin
        // is exactly sum(size(ids)) == the tokenCount totals), for one
        // trie walk instead of two. Funnel observability is untouched:
        // every per-stage count below still reads its own stage.
        // fanOut before the trie walk: `clean` materializes at the semi-
        // join's AQE-coalesced width (~1 partition at harness scale), and
        // the regex-alternation encode is the chain's hottest per-row
        // kernel — fan it across the cores (guide §2.5).
        val encoded = graft.engine.Par.fanOut(clean, col("doc_id"))
          .select(col("doc_id"),
            Tokenizer.tokenIds(col("text"), vocab).as("ids"))
          .localCheckpoint()
        val counted = encoded.select(col("doc_id"),
          size(col("ids")).cast(LongType).as("n_tokens"))
        // 5. deterministic shuffle-shard export
        val sharded = Curation.shuffleShards(counted, "doc_id", nShards = 8)
        // 6. the trainer-facing artifact itself (VERDICT r14 item 5):
        // token-ID-encode the gated survivors and MATERIALIZE the packed
        // 512-token sequences in writePackedSequences' shard layout —
        // session-amortized (a frozen input's export is write-once; the
        // ensure* posture every published artifact here follows). The
        // read-back per-shard (n_sequences, packed_tokens) columns prove
        // the artifact against the funnel's own token accounting: the
        // same md5 shard draw means packed_tokens == shard_tokens and
        // n_sequences == ceil(shard_tokens / 512), both DuckDB-pinned.
        val packedRoot =
          graft.engine.Artifacts.root("q133packed", sfDir) + "/packed"
        Curation.ensurePackedSequences(
          encoded, "doc_id", "ids", nShards = 8, seqLen = 512, packedRoot)
        val packed = spark.read.parquet(packedRoot)
          .groupBy(col("shard_id"))
          .agg(count(lit(1)).cast(LongType).as("n_sequences"),
            sum(col("n_tokens")).cast(LongType).as("packed_tokens"))
        // the four funnel counts are independent reads of pinned stages
        // (three of them checkpointed)
        val counts = Par.overlap(spark)(s =>
          Seq(corpus, deduped, trimmed, clean).map(df => s.fork(df.count()))
            .map(_.join()))
        sharded.groupBy(col("shard_id"))
          .agg(count(lit(1)).cast(LongType).as("n_docs"),
            sum(col("n_tokens")).cast(LongType).as("shard_tokens"))
          .join(packed, Seq("shard_id"), "left")
          .na.fill(0L, Seq("n_sequences", "packed_tokens"))
          .withColumn("n_corpus", lit(counts(0)).cast(LongType))
          .withColumn("n_after_dedup", lit(counts(1)).cast(LongType))
          .withColumn("n_after_trim", lit(counts(2)).cast(LongType))
          .withColumn("n_after_gate", lit(counts(3)).cast(LongType))
          .localCheckpoint() // nShards rows; funnel counts already paid
          .orderBy(col("shard_id"))
      }
    },
    Some(s"""WITH nn AS (SELECT COUNT(*) AS n FROM documents),
      corpus AS (SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + (SELECT n FROM nn) AS doc_id, text FROM documents
        WHERE doc_id % 25 = 0),
      dedup AS (SELECT doc_id, text FROM (
          SELECT doc_id, text, ROW_NUMBER() OVER (
            PARTITION BY md5(lower(trim(text))) ORDER BY doc_id) AS rn
          FROM corpus) WHERE rn = 1),
      w AS (SELECT doc_id, i AS pos, substr(text, i+1, 40) AS w
        FROM dedup, UNNEST(generate_series(0, length(text)-40)) AS u(i)
        WHERE length(text) >= 40),
      d AS (SELECT w FROM w GROUP BY w HAVING count(*) >= 2),
      h AS (SELECT doc_id, pos FROM w SEMI JOIN d USING (w)),
      isl AS (SELECT doc_id, pos,
          CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
              IS NULL
            OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 40
            THEN 1 ELSE 0 END AS nw
        FROM h),
      sp AS (SELECT doc_id, pos,
          SUM(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS s
        FROM isl),
      spans AS (SELECT doc_id, MIN(pos) AS st, MAX(pos) + 40 AS en
        FROM sp GROUP BY doc_id, s),
      pieces AS (
        SELECT doc_id,
          COALESCE(lag(en) OVER (PARTITION BY doc_id ORDER BY st), 0)
            AS ks, st AS ke
        FROM spans
        UNION ALL
        SELECT sp2.doc_id, MAX(sp2.en) AS ks, MAX(length(c.text)) AS ke
        FROM spans sp2 JOIN dedup c USING (doc_id)
        GROUP BY sp2.doc_id),
      tr AS (SELECT p.doc_id,
          string_agg(substr(c.text, p.ks + 1, p.ke - p.ks), ''
            ORDER BY p.ks) AS trimmed
        FROM pieces p JOIN dedup c USING (doc_id)
        GROUP BY p.doc_id),
      kept1 AS (SELECT c.doc_id,
          COALESCE(tr.trimmed, c.text) AS text
        FROM dedup c LEFT JOIN tr USING (doc_id)
        WHERE length(COALESCE(tr.trimmed, c.text)) >= 40),
      tdd AS (SELECT doc_id,
          string_split_regex(lower(trim(text)), '\\s+') AS ws FROM kept1),
      ngd AS (SELECT doc_id, unnest(list_distinct(
          CASE WHEN len(ws) < 13 THEN [array_to_string(ws, ' ')]
          ELSE list_transform(generate_series(1, len(ws) - 12),
            i -> array_to_string(ws[i:i+12], ' ')) END)) AS ng
        FROM tdd),
      tbb AS (SELECT doc_id,
          string_split_regex(lower(trim(text)), '\\s+') AS ws
        FROM documents WHERE doc_id < 25),
      bset AS (SELECT DISTINCT ng FROM (SELECT unnest(list_distinct(
          CASE WHEN len(ws) < 13 THEN [array_to_string(ws, ' ')]
          ELSE list_transform(generate_series(1, len(ws) - 12),
            i -> array_to_string(ws[i:i+12], ' ')) END)) AS ng FROM tbb)),
      cont AS (SELECT ngd.doc_id,
          ROUND(CAST(COUNT(b.ng) AS DOUBLE) / COUNT(*), 6) AS c
        FROM ngd LEFT JOIN bset b USING (ng) GROUP BY 1),
      clean AS (SELECT d.doc_id, d.text FROM kept1 d
        JOIN cont ON cont.doc_id = d.doc_id WHERE cont.c <= 0.5),
      ${Tokenizer.sqlVocabCtes(16, " WHERE doc_id < 250", "tk")},
      counted AS (SELECT doc_id,
          CAST(len(regexp_extract_all(lower(text),
            (SELECT pat FROM tkp), 0)) AS BIGINT) AS n_tokens
        FROM clean),
      sharded AS (SELECT doc_id, n_tokens,
          CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
            AS BIGINT) % 8 AS shard_id
        FROM counted),
      st AS (SELECT shard_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens
        FROM sharded GROUP BY 1)
      SELECT st.shard_id, st.n_docs, st.shard_tokens,
        CASE WHEN st.shard_tokens = 0 THEN CAST(0 AS BIGINT)
          ELSE CAST(CEIL(st.shard_tokens / 512.0) AS BIGINT) END
          AS n_sequences,
        st.shard_tokens AS packed_tokens,
        CAST((SELECT COUNT(*) FROM corpus) AS BIGINT) AS n_corpus,
        CAST((SELECT COUNT(*) FROM dedup) AS BIGINT) AS n_after_dedup,
        CAST((SELECT COUNT(*) FROM kept1) AS BIGINT) AS n_after_trim,
        CAST((SELECT COUNT(*) FROM clean) AS BIGINT) AS n_after_gate
      FROM st ORDER BY st.shard_id"""),
    doc = "the END-TO-END training-export pipeline: exact dedup -> " +
      "boilerplate strip over survivors -> published-store " +
      "decontamination gate -> learned-token budgets -> shuffle-shard " +
      "stats -> MATERIALIZED packed-sequence artifact (512-token " +
      "trainer layout, read back and pinned per shard); full chain + " +
      "funnel counts DuckDB-replayed from raw text",
    costClass = GraftQuery.FixedLifecycle)

  /** q134 — the PACKED TRAINING SEQUENCES themselves (VERDICT r12 item
    * 1): the artifact a causal-LM trainer actually reads, closing the
    * last yard between q133's funnel stats and a trainer's input. Train
    * + publish the vocabulary on the frozen half (q132's lifecycle),
    * token-ID-encode the new batch, then
    * [[Curation.packFixedSequences]]: q130's md5 shard draw + training
    * order, documents' id arrays concatenated per shard and cut into
    * EXACTLY 512-token sequences with document-boundary offsets
    * (documents straddle boundaries; a shard's tail sequence is short).
    * The oracle replays EVERYTHING at value level — ranked-vocab
    * training, every packed id in sequence order, every boundary offset,
    * every boundary's provenance doc — via the q132 ranked-vocab CTEs +
    * q130's md5 arithmetic + the same slice algebra in DuckDB, so a
    * drift in the order, the cut points, or a single token id breaks
    * hash equality. */
  val q134 = GraftQuery(
    "q134_packed_sequences",
    (spark, sfDir) => {
      val root = graft.engine.Artifacts.root("vocab16f", sfDir) + "/vocab"
      val docs = Tables.documents(spark, sfDir)
      val vocab = Tokenizer.ensureVocab(spark, root)(
        Tokenizer.trainWordVocab(docs.filter(col("doc_id") < 250),
          "text", 16))
      val ids = docs.filter(col("doc_id") >= 250)
        .select(col("doc_id"),
          Tokenizer.tokenIds(col("text"), vocab).as("ids"))
      Curation.packFixedSequences(ids, "doc_id", "ids",
          nShards = 4, seqLen = 512)
        .select(col("shard_id"), col("seq_idx"), col("n_tokens"),
          expr("array_join(transform(token_ids, x -> cast(x as string)), ' ')")
            .as("ids_str"),
          expr("array_join(transform(doc_starts, x -> cast(x as string)), ' ')")
            .as("starts_str"),
          expr("array_join(transform(start_doc_ids, " +
            "x -> cast(x as string)), ' ')").as("docs_str"))
        .orderBy(col("shard_id"), col("seq_idx"))
    },
    Some(s"""WITH ${Tokenizer.sqlVocabRankedCtes(16, " WHERE doc_id < 250")},
      li AS (SELECT doc_id, list_transform(
          regexp_extract_all(lower(text), (SELECT pat FROM p), 0),
          t -> CAST(COALESCE((vm[t])[1], -1) AS BIGINT)) AS ids
        FROM documents CROSS JOIN m WHERE doc_id >= 250),
      sh AS (SELECT doc_id, ids, CAST(len(ids) AS BIGINT) AS n,
          md5(CAST(doc_id AS VARCHAR)) AS sk,
          CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
            AS BIGINT) % 4 AS shard_id
        FROM li WHERE len(ids) > 0),
      st AS (SELECT *, SUM(n) OVER (PARTITION BY shard_id ORDER BY sk
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n AS s
        FROM sh),
      ex AS (SELECT *, unnest(generate_series(
          CAST(FLOOR(s / 512.0) AS BIGINT),
          CAST(FLOOR((s + n - 1) / 512.0) AS BIGINT))) AS seq_idx
        FROM st),
      parts AS (SELECT shard_id, seq_idx, doc_id, s,
          GREATEST(seq_idx * 512, s) AS f,
          LEAST((seq_idx + 1) * 512, s + n) AS t,
          ids[CAST(GREATEST(seq_idx * 512, s) - s + 1 AS BIGINT):
              CAST(LEAST((seq_idx + 1) * 512, s + n) - s AS BIGINT)] AS sl
        FROM ex)
      SELECT shard_id, seq_idx, CAST(SUM(t - f) AS BIGINT) AS n_tokens,
        string_agg(array_to_string(sl, ' '), ' ' ORDER BY f) AS ids_str,
        COALESCE(string_agg(CASE WHEN s >= seq_idx * 512
          THEN CAST(s - seq_idx * 512 AS VARCHAR) END, ' ' ORDER BY f),
          '') AS starts_str,
        COALESCE(string_agg(CASE WHEN s >= seq_idx * 512
          THEN CAST(doc_id AS VARCHAR) END, ' ' ORDER BY f),
          '') AS docs_str
      FROM parts GROUP BY 1, 2 ORDER BY 1, 2"""),
    doc = "fixed-length packed token-ID sequences (512/seq, 4 shards) " +
      "with doc-boundary offsets under the published vocab + md5 " +
      "training order; every id, cut point, and boundary DuckDB-replayed")

  /** q135 — the ANN code-store DELETION lifecycle (VERDICT r12 item 2):
    * q111's published-index flow extended with the retraction
    * dedup/curation removals need. Bootstrap publish + insert-only
    * append build the encoded corpus; [[AnnIndex.deleteCodes]] then
    * tombstones a planted victim set (cell-bucketed NULL-code rows, so
    * every cell-pruned probe sees its deletions for free);
    * [[AnnIndex.compactCodes]] rewrites the store without tombstones or
    * victims (q104's compaction economics). Pinned at value level: the
    * live-read probe at exact settings (nprobe = nlist, lossless
    * codebooks) equals DuckDB's brute-force cosine ranking over the
    * SURVIVING vectors — a deleted doc appearing anywhere in any top-k
    * breaks the rows — and three lifecycle contracts ride along:
    * `n_versions` pins bootstrap → append → tombstone → compaction as 4
    * real versions, `compact_invariant` pins the post-compaction probe
    * row-identical to the pre-compaction one, `raw_equals_live` pins
    * that compaction left no tombstones and no victims behind. */
  val q135 = GraftQuery(
    "q135_ann_code_deletion",
    (spark, sfDir) => {
      import graft.engine.sources.SnapshotStore
      val root = Artifacts.scratch("q135_anndel")
      val emb = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 100)
      AnnIndex.publishIndex(spark, s"$root/index",
        Similarity.ivfCentroids(emb, nlist = 4, iters = 1),
        Similarity.pqCodebooksExact(emb, m = 4))
      val (cents, books) = AnnIndex.loadIndex(spark, s"$root/index")
      val codesRoot = s"$root/codes"
      AnnIndex.publishCodes(emb.filter(col("vec_id") < 50), codesRoot,
        cents, books, nBuckets = 4)
      AnnIndex.appendCodes(emb.filter(col("vec_id") >= 50), codesRoot,
        cents, books)
      // the removal set a dedup pass would emit: 12 planted victims
      AnnIndex.deleteCodes(
        emb.filter(col("vec_id") >= 20 && col("vec_id") % 7 === 0)
          .select(col("vec_id").as("nid")), codesRoot)
      val queries = emb.filter(col("vec_id") < 10)
      def probe(codes: org.apache.spark.sql.DataFrame) =
        Similarity.ivfPqTopK(emb, queries, 5, cents, books, nprobe = 4,
            codes = Some(codes))
          .select(col("qid"), col("rnk"), col("nid"))
      val pre = probe(AnnIndex.readCodesLive(spark, codesRoot))
        .localCheckpoint()
      val vCompact = AnnIndex.compactCodes(spark, codesRoot)
      val post = probe(AnnIndex.readCodes(spark, codesRoot))
        .localCheckpoint()
      val invariant = // one-pass multiset equality (r22)
        graft.engine.relational.Exact.sameMultiset(pre, post)
      // ONE aggregate over the raw store for both facts (r22, guide
      // §2.4: the null-scan probe and the count were two full reads)
      val rawStats = AnnIndex.readCodes(spark, codesRoot)
        .agg(count(lit(1)).as("n"),
          count(when(col("code").isNull, lit(1))).as("nulls"))
        .collect()(0)
      val rawEqLive = rawStats.getLong(1) == 0L &&
        rawStats.getLong(0) ==
          AnnIndex.readCodesLive(spark, codesRoot).count()
      pre.withColumn("n_versions", lit(vCompact))
        .withColumn("compact_invariant", lit(invariant))
        .withColumn("raw_equals_live", lit(rawEqLive))
        .orderBy(col("qid"), col("rnk"))
    },
    Some("""WITH e AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        FROM embeddings WHERE vec_id < 100
          AND NOT (vec_id >= 20 AND vec_id % 7 = 0)),
      q AS (SELECT vec_id AS qid, emb AS qe FROM e WHERE vec_id < 10),
      pairs AS (SELECT q.qid, e.vec_id AS nid,
          list_dot_product(q.qe, e.emb) AS dot,
          sqrt(list_dot_product(q.qe, q.qe))
            * sqrt(list_dot_product(e.emb, e.emb)) AS nrm
        FROM q, e WHERE e.vec_id <> q.qid),
      ranked AS (SELECT qid, nid,
          ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY CASE WHEN nrm = 0 THEN 0.0 ELSE dot / nrm END DESC,
              nid ASC) AS rnk
        FROM pairs)
      SELECT qid, CAST(rnk AS BIGINT) AS rnk, nid,
        CAST(4 AS BIGINT) AS n_versions,
        TRUE AS compact_invariant, TRUE AS raw_equals_live
      FROM ranked WHERE rnk <= 5 ORDER BY qid, rnk"""),
    doc = "ANN code-store deletions: tombstone append into the victims' " +
      "cell buckets -> live probe == exact ranking over survivors -> " +
      "compaction removes tombstones+victims with the probe invariant " +
      "and version arithmetic pinned")

  /** q118 — incremental TOKEN ACCOUNTING under the published vocabulary:
    * the budget dashboard every training-data pipeline keeps (how many
    * tokens per source, updated per ingest batch, never a full re-scan).
    * Composes three proven pieces: the vocabulary freezes once
    * (publishVocab — counts stay comparable across batches), each of
    * three ingest batches token-counts ITSELF and folds into the
    * bucketed [[graft.engine.sources.IncrementalAgg]] store at delta
    * cost, and the maintained table is batch-boundary invariant
    * (addition commutes). DuckDB replays it as one full-corpus GROUP BY
    * through the shared vocab CTE; `n_versions` pins that three deltas
    * actually happened. */
  val q118 = GraftQuery(
    "q118_token_accounting",
    (spark, sfDir) => {
      import graft.engine.sources.{IncrementalAgg, SnapshotStore}
      val base = Artifacts.scratch("q118_tokacct")
      val docs = Tables.documents(spark, sfDir)
      Tokenizer.publishVocab(spark, s"$base/vocab",
        Tokenizer.trainWordVocab(docs, "text", 16))
      val vocab = Tokenizer.loadVocab(spark, s"$base/vocab")
      val aggRoot = s"$base/agg"
      (0 to 2).foreach { i =>
        IncrementalAgg.refresh(
          // fanOut per ingest batch: the trie kernel must not run at the
          // one-row-group scan's single-task width (guide §2.5)
          graft.engine.Par.fanOut(
            docs.filter(pmod(col("doc_id"), lit(3L)) === i.toLong),
            col("doc_id"))
            .select(col("source"),
              Tokenizer.tokenCount(col("text"), vocab)
                .cast("double").as("n_tok")),
          aggRoot, keyCol = "source", valueCol = "n_tok", nBuckets = 4,
          tag = Some(s"batch-$i"))
      }
      IncrementalAgg.read(spark, aggRoot)
        .select(col("source"), col("n").as("n_docs"),
          col("s").cast(LongType).as("sum_tokens"))
        .withColumn("n_versions",
          lit(SnapshotStore.currentVersion(aggRoot)))
        .orderBy(col("source"))
    },
    Some(s"""WITH ${Tokenizer.sqlVocabCtes(16)},
      t AS (SELECT source,
        CAST(len(regexp_extract_all(lower(text), (SELECT pat FROM p), 0))
          AS BIGINT) AS n_tok FROM documents)
      SELECT source, COUNT(*) AS n_docs,
        CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
        CAST(3 AS BIGINT) AS n_versions
      FROM t GROUP BY source ORDER BY source"""),
    doc = "per-source token budgets under the published vocab, maintained " +
      "incrementally (3 delta refreshes == full-corpus GROUP BY)")

  /** q116 — hashing-trick text embedding, every component value-checked:
    * the derived vectors are pure md5 arithmetic (bucket = hex prefix mod
    * dim, sign = 5th hex digit band), so DuckDB recomputes the full
    * doc × dim grid — including the zero components the grid join makes
    * explicit — from the raw text. */
  val q116 = GraftQuery(
    "q116_embed_text",
    (spark, sfDir) =>
      TextAnalysis.embedText(Tables.documents(spark, sfDir), "doc_id",
          "text", dim = 16)
        .select(col("doc_id"), posexplode(col("embedding"))
          .as(Seq("pos", "v")))
        .select(col("doc_id"), col("pos").cast(LongType).as("pos"),
          col("v"))
        .orderBy(col("doc_id"), col("pos")),
    Some("""WITH w AS (SELECT doc_id, unnest(regexp_extract_all(lower(text),
          '[a-z]+|[0-9]+')) AS w FROM documents),
      s AS (SELECT doc_id,
          CAST(CAST('0x' || substr(md5(w), 1, 4) AS INTEGER) % 16
            AS BIGINT) AS bucket,
          CASE WHEN substr(md5(w), 5, 1) < '8' THEN 1 ELSE -1 END AS sgn
        FROM w),
      g AS (SELECT doc_id, bucket, CAST(SUM(sgn) AS BIGINT) AS v
        FROM s GROUP BY 1, 2),
      grid AS (SELECT d.doc_id, CAST(j.j AS BIGINT) AS pos
        FROM (SELECT DISTINCT doc_id FROM documents) d
        CROSS JOIN (SELECT unnest(range(0, 16)) AS j) j)
      SELECT grid.doc_id, grid.pos, COALESCE(g.v, 0) AS v
      FROM grid LEFT JOIN g
        ON grid.doc_id = g.doc_id AND grid.pos = g.bucket
      ORDER BY grid.doc_id, grid.pos"""),
    doc = "signed feature-hashing embedding (md5 buckets); full doc x dim " +
      "grid value-checked incl. zeros")

  /** q117 — text → embed → ANN, end to end with NO external model: the
    * documents table is featurized by [[TextAnalysis.embedText]] and the
    * exact cosine top-k runs over the DERIVED vectors; DuckDB replays
    * BOTH stages (md5 featurization, then q44's brute-force ranking) from
    * the raw text. Integer components make the cosine doubles
    * reproducible (exact dots, correctly-rounded division), and
    * proportional word multisets tie at identical doubles where the
    * shared (cos desc, nid asc) tie-break decides both sides. */
  val q117 = GraftQuery(
    "q117_text_ann_e2e",
    (spark, sfDir) => {
      // fanOut: the embed tail is an AQE-coalesced aggregate; unfanned,
      // the exact-cosine scoring below runs single-task (q127's argument)
      val emb = graft.engine.Par.fanOut(
        TextAnalysis.embedText(Tables.documents(spark, sfDir),
            "doc_id", "text", dim = 32)
          .select(col("doc_id").as("vec_id"), col("embedding")),
        col("vec_id"))
      Similarity.bruteForceTopKAgg(emb, emb.filter(col("vec_id") < 10), 5)
        .orderBy(col("qid"), col("rnk"))
    },
    Some("""WITH w AS (SELECT doc_id, unnest(regexp_extract_all(lower(text),
          '[a-z]+|[0-9]+')) AS w FROM documents),
      s AS (SELECT doc_id,
          CAST(CAST('0x' || substr(md5(w), 1, 4) AS INTEGER) % 32
            AS BIGINT) AS bucket,
          CASE WHEN substr(md5(w), 5, 1) < '8' THEN 1 ELSE -1 END AS sgn
        FROM w),
      g AS (SELECT doc_id, bucket, CAST(SUM(sgn) AS BIGINT) AS v
        FROM s GROUP BY 1, 2),
      grid AS (SELECT d.doc_id, CAST(j.j AS BIGINT) AS pos
        FROM (SELECT DISTINCT doc_id FROM documents) d
        CROSS JOIN (SELECT unnest(range(0, 32)) AS j) j),
      e AS (SELECT grid.doc_id AS vec_id,
          list(CAST(COALESCE(g.v, 0) AS DOUBLE) ORDER BY grid.pos) AS emb
        FROM grid LEFT JOIN g
          ON grid.doc_id = g.doc_id AND grid.pos = g.bucket
        GROUP BY grid.doc_id),
      q AS (SELECT vec_id AS qid, emb AS qe FROM e WHERE vec_id < 10),
      pairs AS (SELECT q.qid, e.vec_id AS nid,
          list_dot_product(q.qe, e.emb) AS dot,
          sqrt(list_dot_product(q.qe, q.qe)) *
            sqrt(list_dot_product(e.emb, e.emb)) AS nrm
        FROM q, e WHERE e.vec_id <> q.qid),
      ranked AS (SELECT qid, nid,
          CASE WHEN nrm = 0 THEN 0.0 ELSE dot / nrm END AS cos,
          ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY CASE WHEN nrm = 0 THEN 0.0 ELSE dot / nrm END DESC,
              nid ASC) AS rnk
        FROM pairs)
      SELECT qid, CAST(rnk AS BIGINT) AS rnk, nid, ROUND(cos, 6) AS cosine
      FROM ranked WHERE rnk <= 5 ORDER BY qid, rnk"""),
    doc = "text -> feature-hash embed -> exact cosine top-k; oracle " +
      "replays featurization AND ranking from the raw text")

  /** q112 — context-window packing under the LEARNED tokenizer's budget
    * (q62 re-wired per VERDICT r9 gap 4, then r10 item 4): pack
    * boundaries land where the TRUE BPE tokenizer (merge-order
    * inference, q120's kernel) says the token budget is spent — not
    * where the regex proxy, nor a greedy approximation, estimates it.
    * Same sharded prefix-sum machinery (Curation.packSequences with the
    * pluggable tokenCounter); the oracle replays merge training,
    * merge-order inference (counts joined from the trained word table),
    * and the windowed prefix sums end to end. */
  val q112 = GraftQuery(
    "q112_vocab_pack",
    (spark, sfDir) => {
      val docs = Tables.documents(spark, sfDir)
      // re-wired (VERDICT r10 item 4) to the TRUE BPE tokenizer: pack
      // boundaries land where MERGE-ORDER inference (q120's kernel, the
      // counts a production BPE tokenizer reports) says the budget is
      // spent — the production pairing end to end, training and
      // inference both SQL-replayed
      // session-shared artifact (ensureVocab's pattern): q112/q119/q120
      // need the IDENTICAL full-corpus 8-round merge table — train once
      val merges = Tokenizer.ensureMerges(spark,
        graft.engine.Artifacts.root("bpe8full",
          s"$sfDir|documents|merges=8") + "/merges")(
        Tokenizer.trainBpeMerges(docs, "text", numMerges = 8))
      Curation.packSequences(docs, "doc_id", "text", budgetTokens = 1024L,
          shardCols = Seq("source"),
          tokenCounter = t => Tokenizer.bpeTokenCount(t, merges))
        .orderBy(col("source"), col("pack_id"))
    },
    Some(s"""WITH ${Tokenizer.sqlBpeCtes(8)},
      dw AS (SELECT doc_id, unnest(regexp_extract_all(lower(text),
        '[a-z]+|[0-9]+')) AS w FROM documents),
      wp AS (SELECT w, len(p) AS np FROM s8),
      wt AS (SELECT doc_id,
        SUM(CASE WHEN length(dw.w) = 1 THEN 1 ELSE wp.np END) AS n
        FROM dw LEFT JOIN wp ON dw.w = wp.w GROUP BY doc_id),
      pt AS (SELECT doc_id, len(regexp_extract_all(lower(text),
        '[^a-z0-9 \\x09\\x0A\\x0B\\x0C\\x0D]', 0)) AS n FROM documents),
      t AS (SELECT d.source, d.doc_id,
        CAST(COALESCE(wt.n, 0) + pt.n AS BIGINT) AS n_tokens
        FROM documents d
          LEFT JOIN wt ON wt.doc_id = d.doc_id
          JOIN pt ON pt.doc_id = d.doc_id),
      pk AS (SELECT source, doc_id, n_tokens,
        CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
          / 1024.0) AS BIGINT) AS pack_id
      FROM t)
      SELECT source, pack_id, COUNT(*) AS n_docs,
        CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
        CAST(MIN(doc_id) AS BIGINT) AS first_doc
      FROM pk GROUP BY 1, 2 ORDER BY 1, 2"""),
    doc = "token-budget packing under TRUE BPE merge-order counts " +
      "(8 merges, 1024/window sharded by source); oracle replays merge " +
      "training + inference + prefix sums")

  /** q119 — TRUE BPE tokenization end to end (q113's successor, VERDICT
    * r10 gap 3): the vocabulary comes from the iterative
    * most-frequent-pair merge loop ([[Tokenizer.trainBpeMerges]] — real
    * BPE training, not the one-pass n-gram frequency approximation),
    * then the same greedy longest-match trie kernel tokenizes. The
    * oracle replays the ENTIRE merge loop in DuckDB — 8 rounds of
    * top-pair selection over current-piece bigrams and the leftmost
    * fold rewrite (list_reduce with the identical tail-replace rule) —
    * then the alternation tokenize, so a drift in ANY round's pair
    * choice, the fold semantics, tie-breaking, or the tokenize breaks
    * value equality on every row. q113 keeps the one-pass n-gram
    * trainer as a separate (cheaper) capability. */
  val q119 = GraftQuery(
    "q119_bpe_tokens",
    (spark, sfDir) => {
      val docs = Tables.documents(spark, sfDir)
      // session-shared merges (q112's artifact) + fanOut for the trie
      // kernel over the one-row-group scan (guide §2.5)
      val merges = Tokenizer.ensureMerges(spark,
        graft.engine.Artifacts.root("bpe8full",
          s"$sfDir|documents|merges=8") + "/merges")(
        Tokenizer.trainBpeMerges(docs, "text", numMerges = 8))
      val vocab = Tokenizer.bpeVocab(merges)
      graft.engine.Par.fanOut(docs, col("doc_id"))
        .select(col("doc_id"),
          Tokenizer.tokenCount(col("text"), vocab).as("n_tok_bpe"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH ${Tokenizer.sqlBpeCtes(8)}
      SELECT doc_id,
        CAST(len(regexp_extract_all(lower(text), (SELECT pat FROM p), 0))
          AS BIGINT) AS n_tok_bpe
      FROM documents ORDER BY doc_id"""),
    doc = "BPE merge training (8 rounds) + greedy tokenize; oracle " +
      "replays every merge round AND the tokenize in SQL")

  /** q120 — TRUE BPE merge-order INFERENCE end to end: where q119
    * tokenizes the merge outputs by greedy longest-match (the
    * WordPiece-inference approximation), this row applies the trained
    * merge sequence IN ORDER per word ([[Tokenizer.bpeTokenCount]] — the
    * production-faithful semantics whose counts equal what a real BPE
    * tokenizer emits for the same merges). The oracle replays training
    * (the same 8 merge-round CTEs) and then inference WITHOUT any regex
    * tokenize: the trained word table s8 already carries every trained
    * word's final pieces, so per-doc counts are a join (length-1 words
    * count 1, non-word code points count 1 via the explicit
    * punct-class). A drift between the kernel's run splitting, fold
    * rule, or merge order and the SQL replay breaks every row. */
  val q120 = GraftQuery(
    "q120_bpe_true_tokens",
    (spark, sfDir) => {
      val docs = Tables.documents(spark, sfDir)
      // session-shared merges (q112's artifact) + fanned inference kernel
      val merges = Tokenizer.ensureMerges(spark,
        graft.engine.Artifacts.root("bpe8full",
          s"$sfDir|documents|merges=8") + "/merges")(
        Tokenizer.trainBpeMerges(docs, "text", numMerges = 8))
      graft.engine.Par.fanOut(docs, col("doc_id"))
        .select(col("doc_id"),
          Tokenizer.bpeTokenCount(col("text"), merges).as("n_tok_bpe_true"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH ${Tokenizer.sqlBpeCtes(8)},
      dw AS (SELECT doc_id, unnest(regexp_extract_all(lower(text),
        '[a-z]+|[0-9]+')) AS w FROM documents),
      wp AS (SELECT w, len(p) AS np FROM s8),
      wt AS (SELECT doc_id,
        SUM(CASE WHEN length(dw.w) = 1 THEN 1 ELSE wp.np END) AS n
        FROM dw LEFT JOIN wp ON dw.w = wp.w GROUP BY doc_id),
      pt AS (SELECT doc_id, len(regexp_extract_all(lower(text),
        '[^a-z0-9 \\x09\\x0A\\x0B\\x0C\\x0D]', 0)) AS n FROM documents)
      SELECT d.doc_id,
        CAST(COALESCE(wt.n, 0) + pt.n AS BIGINT) AS n_tok_bpe_true
      FROM documents d
        LEFT JOIN wt ON wt.doc_id = d.doc_id
        JOIN pt ON pt.doc_id = d.doc_id
      ORDER BY d.doc_id"""),
    doc = "TRUE BPE inference (merges applied in order per word); oracle " +
      "replays training and counts from the trained word table — no " +
      "regex-alternation approximation anywhere")

  /** q121 — PUBLISHED BPE merge lifecycle (q115's pattern for the real
    * tokenizer): merges train on the frozen half only, publish as a
    * versioned `(rank, a, b)` artifact, load back, and merge-order
    * inference runs over the NEW batch — including words the training
    * corpus never saw, which the trained-word-table shortcut (q120)
    * cannot replay. The oracle therefore retrains on the frozen half in
    * SQL AND re-applies the 8 merge tables to the new batch's distinct
    * words with the same fold ([[Tokenizer.sqlBpeApplyCtes]]), so
    * unseen-word decomposition, publish/load order (rank), and training
    * leakage from the new batch are all value-checked. */
  val q121 = GraftQuery(
    "q121_published_bpe",
    (spark, sfDir) => {
      val root = Artifacts.scratch("q121_merges") + "/merges"
      val docs = Tables.documents(spark, sfDir)
      val frozen = docs.filter(col("doc_id") < 250)
      Tokenizer.publishMerges(spark, root,
        Tokenizer.trainBpeMerges(frozen, "text", numMerges = 8))
      val merges = Tokenizer.loadMerges(spark, root)
      // fanOut: q120's argument for the merge-order inference kernel
      graft.engine.Par.fanOut(
        docs.filter(col("doc_id") >= 250), col("doc_id"))
        .select(col("doc_id"),
          Tokenizer.bpeTokenCount(col("text"), merges).as("n_tok_bpe_true"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH ${Tokenizer.sqlBpeCtes(8, " WHERE doc_id < 250")},
      a0 AS (SELECT DISTINCT w FROM (SELECT unnest(regexp_extract_all(
        lower(text), '[a-z]+|[0-9]+')) AS w FROM documents
        WHERE doc_id >= 250)),
      ${Tokenizer.sqlBpeApplyCtes(8)},
      dw AS (SELECT doc_id, unnest(regexp_extract_all(lower(text),
        '[a-z]+|[0-9]+')) AS w FROM documents WHERE doc_id >= 250),
      wt AS (SELECT doc_id, SUM(wpieces.np) AS n
        FROM dw JOIN wpieces ON dw.w = wpieces.w GROUP BY doc_id),
      pt AS (SELECT doc_id, len(regexp_extract_all(lower(text),
        '[^a-z0-9 \\x09\\x0A\\x0B\\x0C\\x0D]', 0)) AS n
        FROM documents WHERE doc_id >= 250)
      SELECT d.doc_id,
        CAST(COALESCE(wt.n, 0) + pt.n AS BIGINT) AS n_tok_bpe_true
      FROM documents d
        LEFT JOIN wt ON wt.doc_id = d.doc_id
        JOIN pt ON pt.doc_id = d.doc_id
      WHERE d.doc_id >= 250
      ORDER BY d.doc_id"""),
    doc = "published BPE merges: train on the frozen half, publish, load, " +
      "merge-order inference on the new batch; oracle retrains AND " +
      "re-applies the merges to unseen words")

  /** q122 — image perceptual-hash dedup over the REAL decode (the
    * multimodal sibling of SimHash text dedup, q94 × q40): planted PNGs
    * are decoded with ImageIO, each image gets a 64-bit aHash over an
    * integer-sampled luminance grid plus an exact content key over the
    * DECODED pixels, and duplicate pairs come from the scale-safe
    * content-key join ([[Multimodal.imageExactDups]] — output-sensitive;
    * never a pHash-bucket pair expansion, which degenerates when many
    * distinct images share a hash). The synthetic corpus makes the
    * ground truth ARITHMETIC: every pixel statistic is mod-256
    * arithmetic over doc_id, so two planted images are pixel-identical
    * IFF their source ids are congruent mod 256 (w, h, and both colors
    * are all mod-256-determined; equal top color byte forces the
    * congruence back). DuckDB recomputes exactly those pairs from id
    * arithmetic — no codec needed — and pins `phash_hamming` 0 on every
    * pair: identical pixels MUST produce identical hashes, so a
    * nondeterministic decode or hash breaks the rows. The banded
    * near-dup path over the same hash ([[Multimodal.imageNearDups]],
    * Hamming radius) is MultimodalSpec-gated. */
  val q122 = GraftQuery(
    "q122_image_phash_dedup",
    (spark, sfDir) => {
      import spark.implicits._
      // syntheticImages fans its 8-byte ids internally, so BOTH union
      // branches are already cores-wide when the decode runs — the outer
      // fanOut r21 shipped re-exchanged the ENCODED blobs for no added
      // parallelism (ADVICE r21). The duplicate branch also filters its
      // ids BEFORE generation now: the old filter-after-generate encoded
      // the whole corpus twice to keep 4% of it.
      val ids = Tables.documents(spark, sfDir).select(col("doc_id"))
      val corpus = Multimodal.syntheticImages(ids).unionByName(
        Multimodal.syntheticImages(ids.filter(col("doc_id") % 25 === 0))
          .map(m => m.copy(media_id = m.media_id + 100000)))
      // localCheckpoint before the total ORDER BY (the audioDecodeAudit
      // pattern): orderBy's range-partition sampling would otherwise run
      // the encode+decode pipeline a second time
      Multimodal.imageExactDups(corpus).localCheckpoint()
        .orderBy(col("id_a"), col("id_b"))
    },
    Some("""WITH ids AS (SELECT doc_id AS id, doc_id % 256 AS k
        FROM documents
        UNION ALL
        SELECT doc_id + 100000, doc_id % 256 FROM documents
        WHERE doc_id % 25 = 0)
      SELECT a.id AS id_a, b.id AS id_b,
        CAST(0 AS BIGINT) AS phash_hamming
      FROM ids a JOIN ids b ON a.k = b.k AND a.id < b.id
      ORDER BY id_a, id_b"""),
    doc = "decoded-pixel image dedup + perceptual-hash consistency: " +
      "pairs == the mod-256 congruence classes of the planted corpus, " +
      "pHash Hamming pinned 0 on every pixel-identical pair")

  /** q123 — audio dedup over the REAL AudioSystem decode (q122's audio
    * sibling, composing q107's decoder): planted WAVs + content-carried
    * copies; pairs come from the decoded-SAMPLE content key join
    * ([[Multimodal.audioExactDups]]). Unlike the image corpus, the
    * planted PCM has NO organic cross-id collisions (sample i is
    * (id·2654435761 + i·40503) mod 2¹⁶ — the multiplier is odd so equal
    * sample streams force id congruence mod 2¹⁶, far beyond the corpus
    * range; headers differ by id mod 8 besides), so the exact pair set
    * is precisely the planted copies — which DuckDB enumerates from id
    * arithmetic with no codec. `envhash_hamming` pinned 0 on every pair
    * proves the envelope hash is a pure function of the decoded samples
    * (decode nondeterminism or a hash drift breaks the rows). */
  val q123 = GraftQuery(
    "q123_audio_dedup",
    (spark, sfDir) => {
      import spark.implicits._
      // q122's shape exactly: syntheticWavs now fans internally (the
      // direct wavBytes encode is off AudioSystem's registry lock), so
      // no outer blob re-exchange; the duplicate branch filters ids
      // BEFORE generation instead of encoding the corpus twice.
      val ids = Tables.documents(spark, sfDir).select(col("doc_id"))
      val corpus = Multimodal.syntheticWavs(ids).unionByName(
        Multimodal.syntheticWavs(ids.filter(col("doc_id") % 25 === 0))
          .map(m => m.copy(media_id = m.media_id + 100000)))
      // localCheckpoint before the total ORDER BY (q122's argument)
      Multimodal.audioExactDups(corpus).localCheckpoint()
        .orderBy(col("id_a"), col("id_b"))
    },
    Some("""SELECT doc_id AS id_a, doc_id + 100000 AS id_b,
        CAST(0 AS BIGINT) AS envhash_hamming
      FROM documents WHERE doc_id % 25 = 0
      ORDER BY id_a, id_b"""),
    doc = "decoded-sample audio dedup: pairs == exactly the planted " +
      "copies (planted PCM provably collision-free across ids), " +
      "envelope-hash Hamming pinned 0 on every sample-identical pair")

  /** q125 — contrastive training-pair mining (X7 adjunct — the
    * embedding-model training-data construction): planted duplicate
    * classes yield (anchor, positive) pairs, and md5 arithmetic over
    * (anchor, j) draws deterministic negatives that must exist and must
    * not share the anchor's content class. EVERY step is relational
    * arithmetic, so the oracle replays the whole construction — class
    * building, representative choice, the negative draw (same md5-prefix
    * integer the q116 featurizer proved engine-portable), and both
    * negative-validity joins — value-level. Copies get DENSE ids
    * (doc_id + corpus count) so the draw span stays the original id
    * range and every candidate exists unless class-colliding. */
  val q125 = GraftQuery(
    "q125_contrastive_pairs",
    (spark, sfDir) => {
      val docs = Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text"))
      val n = docs.count()
      val corpus = docs.unionByName(
        docs.filter(col("doc_id") % 25 === 0)
          .select((col("doc_id") + n).as("doc_id"), col("text")))
      Curation.contrastivePairs(corpus, "text", "doc_id",
          negativesPerAnchor = 2, negIdSpan = Some(n))
        .orderBy(col("anchor_id"), col("j"), col("neg_id"))
    },
    Some("""WITH n AS (SELECT COUNT(*) AS n FROM documents),
      corpus AS (SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + (SELECT n FROM n), text FROM documents
        WHERE doc_id % 25 = 0),
      k AS (SELECT doc_id AS id, md5(lower(trim(text))) AS ck FROM corpus),
      reps AS (SELECT ck, MIN(id) AS pos_id, COUNT(*) AS cnt
        FROM k GROUP BY ck),
      anchors AS (SELECT k.id AS anchor_id, reps.pos_id, k.ck
        FROM k JOIN reps USING (ck)
        WHERE reps.cnt > 1 AND k.id <> reps.pos_id),
      cand AS (SELECT anchor_id, pos_id, ck, j,
          CAST('0x' || substr(md5(anchor_id || ':' || j), 1, 15) AS BIGINT)
            % (SELECT n FROM n) AS neg_id
        FROM anchors, (SELECT unnest([0, 1]) AS j))
      SELECT anchor_id, pos_id, neg_id, CAST(j AS BIGINT) AS j
      FROM cand JOIN k ON k.id = cand.neg_id
      WHERE k.ck <> cand.ck
      ORDER BY anchor_id, j, neg_id"""),
    doc = "contrastive (anchor, positive, negative) mining: positives " +
      "from duplicate classes, negatives by engine-portable md5 draw " +
      "with existence + class-collision guards; fully value-replayed")

  /** q126 — HYBRID retrieval: BM25 (lexical, q69's scorer) and dense
    * cosine over the derived embeddings (q116's featurizer, q44's exact
    * ranking) each produce a bounded top-100 candidate list, fused by
    * reciprocal-rank fusion ([[Similarity.rrfFuse]] — the standard
    * score-calibration-free combiner). Ranks come from
    * [[Similarity.rankCandidates]] (broadcast inequality join over the
    * candidate list — no window, no single-partition sort) and the
    * partial-top-k aggregate's own rnk. The oracle replays EVERYTHING:
    * BM25 (q69's proven SQL), the md5 featurization of corpus AND query
    * text (q116/q117's), both rankings with the shared (score desc, id)
    * tie-break, and the fusion arithmetic — value-level to the final
    * top-10. */
  val q126 = GraftQuery(
    "q126_hybrid_retrieval",
    (spark, sfDir) => {
      import spark.implicits._
      val docs = Tables.documents(spark, sfDir)
      val terms = Seq("join", "vector", "stream")
      val lex = TextAnalysis.bm25(docs, "doc_id", "text", terms)
        .orderBy(col("bm25").desc, col("doc_id")).limit(100)
        .select(col("doc_id"), col("bm25").as("score"))
      val lexRank = Similarity.rankCandidates(lex, "doc_id", "score")
      // fanOut: q117's argument — the dense-scoring pass must not run at
      // the embed aggregate's coalesced width
      val emb = graft.engine.Par.fanOut(
        TextAnalysis.embedText(docs, "doc_id", "text", dim = 32)
          .select(col("doc_id").as("vec_id"), col("embedding")),
        col("vec_id"))
      // the query string goes through the SAME featurizer; vec_id = -1
      // so the self-exclusion filter can never drop a real document
      val qv = TextAnalysis.embedText(
          Seq((-1L, terms.mkString(" "))).toDF("doc_id", "text"),
          "doc_id", "text", dim = 32)
        .select(col("doc_id").as("vec_id"), col("embedding"))
      val denseRank = Similarity.bruteForceTopKAgg(emb, qv, k = 100)
        .select(col("nid").as("doc_id"), col("rnk").as("rank"))
      Similarity.rrfFuse(lexRank, denseRank, "doc_id", kRrf = 60, topK = 10)
        .select(col("doc_id"), col("rank_a").as("rank_lex"),
          col("rank_b").as("rank_dense"), col("rrf"))
        .orderBy(col("rrf").desc, col("doc_id"))
    },
    Some("""WITH docs AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
        FROM documents),
      stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
          CAST(SUM(len(ws)) AS DOUBLE) / COUNT(*) AS avgdl FROM docs),
      hits AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS doclen,
          unnest(ws) AS term FROM docs),
      tf AS (SELECT doc_id, doclen, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM hits WHERE term IN ('join', 'vector', 'stream')
        GROUP BY 1, 2, 3),
      dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
        FROM tf GROUP BY 1),
      parts AS (SELECT tf.doc_id,
          ln(1.0 + (s.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
            * tf.tf * (1.2 + 1.0)
            / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.doclen / s.avgdl))
            AS part
        FROM tf JOIN dfreq USING (term) CROSS JOIN stats s),
      bm AS (SELECT doc_id,
          ROUND(CAST(SUM(CAST(part AS DECIMAL(27,6))) AS DOUBLE), 6)
            AS bm25
        FROM parts GROUP BY 1),
      lex AS (SELECT doc_id,
          ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rank_lex
        FROM bm ORDER BY bm25 DESC, doc_id LIMIT 100),
      w AS (SELECT doc_id, unnest(regexp_extract_all(lower(text),
          '[a-z]+|[0-9]+')) AS w FROM documents),
      s2 AS (SELECT doc_id,
          CAST(CAST('0x' || substr(md5(w), 1, 4) AS INTEGER) % 32
            AS BIGINT) AS bucket,
          CASE WHEN substr(md5(w), 5, 1) < '8' THEN 1 ELSE -1 END AS sgn
        FROM w),
      g AS (SELECT doc_id, bucket, CAST(SUM(sgn) AS BIGINT) AS v
        FROM s2 GROUP BY 1, 2),
      grid AS (SELECT d.doc_id, CAST(j.j AS BIGINT) AS pos
        FROM (SELECT DISTINCT doc_id FROM documents) d
        CROSS JOIN (SELECT unnest(range(0, 32)) AS j) j),
      e AS (SELECT grid.doc_id AS vec_id,
          list(CAST(COALESCE(g.v, 0) AS DOUBLE) ORDER BY grid.pos) AS emb
        FROM grid LEFT JOIN g
          ON grid.doc_id = g.doc_id AND grid.pos = g.bucket
        GROUP BY grid.doc_id),
      qw AS (SELECT unnest(regexp_extract_all('join vector stream',
          '[a-z]+|[0-9]+')) AS w),
      qsg AS (SELECT
          CAST(CAST('0x' || substr(md5(w), 1, 4) AS INTEGER) % 32
            AS BIGINT) AS bucket,
          CASE WHEN substr(md5(w), 5, 1) < '8' THEN 1 ELSE -1 END AS sgn
        FROM qw),
      qg AS (SELECT bucket, CAST(SUM(sgn) AS BIGINT) AS v
        FROM qsg GROUP BY 1),
      qe AS (SELECT list(CAST(COALESCE(qg.v, 0) AS DOUBLE)
          ORDER BY j.pos) AS qe
        FROM (SELECT unnest(range(0, 32)) AS pos) j
        LEFT JOIN qg ON qg.bucket = j.pos),
      pairs AS (SELECT e.vec_id,
          list_dot_product((SELECT qe FROM qe), e.emb) AS dot,
          sqrt(list_dot_product((SELECT qe FROM qe), (SELECT qe FROM qe)))
            * sqrt(list_dot_product(e.emb, e.emb)) AS nrm
        FROM e),
      dense AS (SELECT vec_id AS doc_id,
          ROW_NUMBER() OVER (ORDER BY
            CASE WHEN nrm = 0 THEN 0.0 ELSE dot / nrm END DESC,
            vec_id) AS rank_dense
        FROM pairs
        ORDER BY (CASE WHEN nrm = 0 THEN 0.0 ELSE dot / nrm END) DESC,
          vec_id
        LIMIT 100),
      f AS (SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
          l.rank_lex, d.rank_dense,
          ROUND(COALESCE(1.0 / (60 + l.rank_lex), 0)
            + COALESCE(1.0 / (60 + d.rank_dense), 0), 6) AS rrf
        FROM lex l FULL JOIN dense d ON l.doc_id = d.doc_id)
      SELECT doc_id, rank_lex, rank_dense, rrf
      FROM f ORDER BY rrf DESC, doc_id LIMIT 10"""),
    doc = "hybrid retrieval: BM25 top-100 + dense-cosine top-100 fused " +
      "by reciprocal ranks (k=60); every stage replayed in SQL down to " +
      "the fused top-10")

  /** q127 — HARD-negative contrastive mining (q125's production
    * successor, VERDICT r11 item 2): negatives come from each anchor's
    * ANN top-k against the PUBLISHED IVF-PQ index instead of a uniform
    * md5 draw — the Robinson et al. 2021 hard-negative construction over
    * the real index lifecycle (train → publish → load → encode → probe,
    * q111's posture). Exact-regime settings (nprobe = nlist + the
    * `rerank = Int.MaxValue` exact-selection sentinel — every probed
    * candidate exact-scored in one pass over the vector table, the
    * documented "rerank >= corpus recovers exactness under ANY
    * codebooks" contract) make the probe EQUAL the
    * brute-force cosine ranking, so DuckDB replays everything from raw
    * text: the md5 featurization (q116/q117's), the anchors' candidate
    * ranking with the shared (cos desc, nid asc) tie-break, the
    * class-collision exclusion (an anchor's copies must never surface as
    * its negatives), and the (cosine desc, id) re-rank to the final
    * `negativesPerAnchor` — ranking AND exclusion both value-replayed. */
  val q127 = GraftQuery(
    "q127_hard_negative_pairs",
    (spark, sfDir) => {
      import graft.engine.sources.SnapshotStore
      // session-shared artifact (Artifacts scaladoc): index + codes are
      // deterministic functions of the corpus — publish-if-absent skips
      // the full-corpus re-encode on every later in-session run (and the
      // exact-selection sentinel below is codebook-independent besides)
      val root = graft.engine.Artifacts.root("q127ann", sfDir)
      val docs = Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text"))
      val n = docs.count()
      val corpus = docs.unionByName(
        docs.filter(col("doc_id") % 25 === 0)
          .select((col("doc_id") + n).as("doc_id"), col("text")))
      // fanOut BEFORE the checkpoint: the embed tail is an AQE-coalesced
      // aggregate (~1 partition at harness scale), and this cache feeds
      // training, encoding AND the probe — unfanned, every one of those
      // passes would run single-task over it (x44's persist argument).
      val emb = graft.engine.Par.fanOut(
        TextAnalysis.embedText(corpus, "doc_id", "text", dim = 32)
          .select(col("doc_id").as("vec_id"),
            col("embedding").cast("array<double>").as("embedding")),
        col("vec_id"))
        .localCheckpoint() // feeds training, encoding, AND the probe
      if (SnapshotStore.currentVersion(s"$root/index") == 0L)
        AnnIndex.publishIndex(spark, s"$root/index",
          Similarity.ivfCentroids(emb, nlist = 4, iters = 1),
          Similarity.pqTrain(emb, m = 4, k = 16, iters = 2))
      val (cents, books) = AnnIndex.loadIndex(spark, s"$root/index")
      if (SnapshotStore.currentVersion(s"$root/codes") == 0L)
        AnnIndex.publishCodes(emb, s"$root/codes", cents, books,
          nBuckets = 4)
      val anchors = Curation.duplicateAnchors(corpus, "text", "doc_id")
      val anchorEmb = emb.join(
        anchors.select(col("anchor_id").as("vec_id")), Seq("vec_id"))
      val probed = Similarity.ivfPqTopK(emb, anchorEmb, k = 8,
        cents, books, nprobe = 4, rerank = Int.MaxValue,
        codes = Some(AnnIndex.readCodes(spark, s"$root/codes")))
      Curation.hardNegativePairs(corpus, "text", "doc_id", probed,
          negativesPerAnchor = 2)
        .orderBy(col("anchor_id"), col("neg_rank"))
    },
    Some("""WITH n AS (SELECT COUNT(*) AS n FROM documents),
      corpus AS (SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + (SELECT n FROM n), text FROM documents
        WHERE doc_id % 25 = 0),
      k AS (SELECT doc_id AS id, md5(lower(trim(text))) AS ck FROM corpus),
      reps AS (SELECT ck, MIN(id) AS pos_id, COUNT(*) AS cnt
        FROM k GROUP BY ck),
      anchors AS (SELECT k.id AS anchor_id, reps.pos_id, k.ck
        FROM k JOIN reps USING (ck)
        WHERE reps.cnt > 1 AND k.id <> reps.pos_id),
      w AS (SELECT doc_id, unnest(regexp_extract_all(lower(text),
          '[a-z]+|[0-9]+')) AS w FROM corpus),
      s AS (SELECT doc_id,
          CAST(CAST('0x' || substr(md5(w), 1, 4) AS INTEGER) % 32
            AS BIGINT) AS bucket,
          CASE WHEN substr(md5(w), 5, 1) < '8' THEN 1 ELSE -1 END AS sgn
        FROM w),
      g AS (SELECT doc_id, bucket, CAST(SUM(sgn) AS BIGINT) AS v
        FROM s GROUP BY 1, 2),
      grid AS (SELECT d.doc_id, CAST(j.j AS BIGINT) AS pos
        FROM (SELECT DISTINCT doc_id FROM corpus) d
        CROSS JOIN (SELECT unnest(range(0, 32)) AS j) j),
      e AS (SELECT grid.doc_id AS vec_id,
          list(CAST(COALESCE(g.v, 0) AS DOUBLE) ORDER BY grid.pos) AS emb
        FROM grid LEFT JOIN g
          ON grid.doc_id = g.doc_id AND grid.pos = g.bucket
        GROUP BY grid.doc_id),
      q AS (SELECT anchors.anchor_id AS qid, e.emb AS qe
        FROM anchors JOIN e ON e.vec_id = anchors.anchor_id),
      pairs AS (SELECT q.qid, e.vec_id AS nid,
          list_dot_product(q.qe, e.emb) AS dot,
          sqrt(list_dot_product(q.qe, q.qe)) *
            sqrt(list_dot_product(e.emb, e.emb)) AS nrm
        FROM q, e WHERE e.vec_id <> q.qid),
      ranked AS (SELECT qid, nid,
          ROUND(CASE WHEN nrm = 0 THEN 0.0 ELSE dot / nrm END, 6) AS cosine,
          ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY CASE WHEN nrm = 0 THEN 0.0 ELSE dot / nrm END DESC,
              nid ASC) AS rnk
        FROM pairs),
      excl AS (SELECT r.qid, r.nid, r.cosine
        FROM ranked r
        JOIN anchors a ON a.anchor_id = r.qid
        JOIN k kn ON kn.id = r.nid
        WHERE r.rnk <= 8 AND kn.ck <> a.ck),
      rr AS (SELECT qid AS anchor_id, nid AS neg_id, cosine,
          ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY cosine DESC, nid ASC) AS neg_rank
        FROM excl)
      SELECT a.anchor_id, a.pos_id, rr.neg_id,
        CAST(rr.neg_rank AS BIGINT) AS neg_rank, rr.cosine
      FROM rr JOIN anchors a USING (anchor_id)
      WHERE rr.neg_rank <= 2
      ORDER BY anchor_id, neg_rank"""),
    doc = "hard-negative contrastive mining: anchors' ANN top-8 against " +
      "the published IVF-PQ index (exact regime), class-collision " +
      "excluded, re-ranked to 2 negatives; ranking and exclusion both " +
      "value-replayed from raw text")

  /** q128 — character-granular EXACT-SUBSTRING span accounting (Lee et
    * al. 2022's ExactSubstr signal at maximal-span grain — the upgrade
    * over q82's chunk keys): 40-char sliding windows, corpus-wide
    * occurrence >= 2, per-doc gaps-and-islands merge into maximal spans,
    * per-doc (n_spans, dup_chars, dup_ratio) for EVERY document. Planted
    * whole-document copies (the q82 fixture) must surface as one
    * full-length span on both sides of each copy pair, on top of the
    * corpus's organic repeats; DuckDB replays windows, the >=2 filter,
    * the island merge, and the stats join independently. */
  val q128 = GraftQuery(
    "q128_exact_substring_spans",
    (spark, sfDir) => {
      val docs = Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text"))
      // count-based offset (q127's pattern): planted ids can never
      // collide with real ids at ANY scale factor
      val n = docs.count()
      val corpus = docs.unionByName(
        docs.filter(col("doc_id") % 25 === 0)
          .select((col("doc_id") + n).as("doc_id"), col("text")))
      // hashedKeys: the PRODUCTION key path (8-byte rolling-hash shuffle
      // + output-sensitive substring verify) — provably equal to the
      // literal formulation the DuckDB twin replays (DedupSpec pins it)
      Dedup.spanDupStats(corpus, "text", "doc_id", minLen = 40,
        hashedKeys = true)
        .orderBy(col("doc_id"))
    },
    Some("""WITH n AS (SELECT COUNT(*) AS n FROM documents),
      corpus AS (SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + (SELECT n FROM n) AS doc_id, text FROM documents
        WHERE doc_id % 25 = 0),
      w AS (SELECT doc_id, i AS pos, substr(text, i+1, 40) AS w
        FROM corpus, UNNEST(generate_series(0, length(text)-40)) AS u(i)
        WHERE length(text) >= 40),
      d AS (SELECT w FROM w GROUP BY w HAVING count(*) >= 2),
      h AS (SELECT doc_id, pos FROM w SEMI JOIN d USING (w)),
      isl AS (SELECT doc_id, pos,
          CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
              IS NULL
            OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 40
            THEN 1 ELSE 0 END AS nw
        FROM h),
      sp AS (SELECT doc_id, pos,
          SUM(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS s
        FROM isl),
      spans AS (SELECT doc_id, MIN(pos) AS st, MAX(pos) + 40 AS en
        FROM sp GROUP BY doc_id, s),
      agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
          CAST(SUM(en - st) AS BIGINT) AS dup_chars
        FROM spans GROUP BY doc_id)
      SELECT c.doc_id, COALESCE(a.n_spans, 0) AS n_spans,
        COALESCE(a.dup_chars, 0) AS dup_chars,
        CAST(length(c.text) AS BIGINT) AS total_chars,
        ROUND(CAST(COALESCE(a.dup_chars, 0) AS DOUBLE)
          / length(c.text), 6) AS dup_ratio
      FROM corpus c LEFT JOIN agg a USING (doc_id)
      ORDER BY doc_id"""),
    doc = "exact-substring repeated spans (Lee et al. ExactSubstr, " +
      "maximal-span grain): 40-char windows, occurrence >= 2, " +
      "gaps-and-islands merge, per-doc dup accounting — every stage " +
      "DuckDB-replayed")

  /** q129 — INCREMENTAL decontamination (q64's production successor):
    * the benchmark suite's 13-grams freeze ONCE into a catalog
    * bucketed+sorted table, and the ingest batch joins it with zero
    * exchanges and zero sorts on the frozen side — the q91-banded /
    * x63 published-artifact posture applied to eval-leakage gating
    * (real gates accumulate benchmark suites past broadcast size and
    * must not re-derive them per batch). Values must equal q64's
    * broadcast formulation EXACTLY — the oracle IS q64's SQL — and the
    * `published_side_shuffle_free` contract boolean pins that the only
    * exchange in the join stage is the batch side. */
  val q129 = GraftQuery(
    "q129_incremental_decontamination",
    (spark, sfDir) => {
      import graft.engine.relational.Bucketed
      val docs = Tables.documents(spark, sfDir)
      // session-shared with q133/x64 (Artifacts scaladoc)
      val table = graft.engine.Artifacts.table("bench13", sfDir)
      Curation.ensureBenchmarkNgrams(spark,
        docs.filter(col("doc_id") < 25), "text", table, n = 13)
      val bench = spark.table(table)
      val batch = docs.filter(col("doc_id") >= 25)
      locally {
        val joined = Curation.contaminationJoin(
          batch, bench, "text", "doc_id", n = 13)
        val oneExchange = Bucketed.shuffleCount(joined) == 1
        Curation.contaminationBucketed(batch, bench, "text", "doc_id",
            n = 13)
          .withColumn("published_side_shuffle_free", lit(oneExchange))
          .localCheckpoint()
          .orderBy(col("doc_id"))
          .limit(2000)
      }
    },
    Some("""WITH t AS (SELECT doc_id,
        string_split_regex(lower(trim(text)), '\s+') AS ws FROM documents),
      ng AS (SELECT doc_id, unnest(list_distinct(
          CASE WHEN len(ws) < 13 THEN [array_to_string(ws, ' ')]
          ELSE list_transform(generate_series(1, len(ws) - 12),
            i -> array_to_string(ws[i:i+12], ' ')) END)) AS ng
        FROM t),
      b AS (SELECT DISTINCT ng FROM ng WHERE doc_id < 25)
      SELECT ng.doc_id, CAST(COUNT(*) AS BIGINT) AS n_ngrams,
        CAST(COUNT(b.ng) AS BIGINT) AS n_contaminated,
        ROUND(CAST(COUNT(b.ng) AS DOUBLE) / COUNT(*), 6) AS contamination,
        TRUE AS published_side_shuffle_free
      FROM ng LEFT JOIN b USING (ng) WHERE ng.doc_id >= 25
      GROUP BY 1 ORDER BY 1 LIMIT 2000"""),
    doc = "incremental decontamination vs a published bucketed benchmark " +
      "n-gram table: values == q64's broadcast formulation, frozen side " +
      "joins with zero exchanges (plan-contract boolean)")

  /** q130 — deterministic GLOBAL training shuffle + sharding (the
    * export stage between curation and the trainer): every doc gets an
    * engine-portable md5 shard draw (60-bit prefix mod 8) and an
    * md5 shuffle key; per shard the oracle replays unit/token budgets,
    * the first-3 heads IN TRAINING ORDER (minK partial aggregate vs
    * ROW_NUMBER — no low-cardinality rank window on the engine side),
    * and the cross-shard token-balance spread. */
  val q130 = GraftQuery(
    "q130_shuffle_shards",
    (spark, sfDir) => {
      val units = Tables.documents(spark, sfDir)
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      val sharded = Curation.shuffleShards(units, "doc_id", nShards = 8)
        .localCheckpoint() // feeds stats, heads, AND the spread collect
      val stats = sharded.groupBy(col("shard_id"))
        .agg(count(lit(1)).cast(LongType).as("n_units"),
          sum(col("n_tokens")).cast(LongType).as("shard_tokens"))
        .localCheckpoint() // bounded: nShards rows
      val budgets = stats.select(col("shard_tokens"))
        .collect().map(_.getLong(0))
      // degenerate corpora (no docs / all-empty texts) define spread 0
      val spread =
        if (budgets.isEmpty || budgets.sum == 0L) 0.0
        else (budgets.max - budgets.min).toDouble /
          (budgets.sum.toDouble / budgets.length)
      val heads = sharded
        .select(col("shard_id"), col("shuffle_key").as("sortKey"),
          col("doc_id").cast("string").as("id"))
        .groupBy(col("shard_id"))
        .agg(graft.engine.llm.TopK.minK(3).as("keep"))
        .select(col("shard_id"), posexplode(col("keep")).as(Seq("h", "k")))
        .select(col("shard_id"),
          (col("h") + 1).cast(LongType).as("head_rank"),
          col("k.id").as("head_id"))
      stats.join(heads, Seq("shard_id"))
        .withColumn("balance_spread",
          lit(BigDecimal(spread).setScale(6,
            BigDecimal.RoundingMode.HALF_UP).toDouble))
        .orderBy(col("shard_id"), col("head_rank"))
    },
    Some("""WITH t AS (SELECT doc_id,
        len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]', 0))
          AS n_tokens
      FROM documents),
      s AS (SELECT doc_id, n_tokens,
          md5(CAST(doc_id AS VARCHAR)) AS sk,
          CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
            AS BIGINT) % 8 AS shard_id
        FROM t),
      st AS (SELECT shard_id, CAST(COUNT(*) AS BIGINT) AS n_units,
          CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens
        FROM s GROUP BY 1),
      h AS (SELECT shard_id, CAST(doc_id AS VARCHAR) AS head_id,
          ROW_NUMBER() OVER (PARTITION BY shard_id
            ORDER BY sk, CAST(doc_id AS VARCHAR)) AS head_rank
        FROM s),
      b AS (SELECT ROUND((MAX(shard_tokens) - MIN(shard_tokens))
          / AVG(shard_tokens), 6) AS balance_spread FROM st)
      SELECT st.shard_id, st.n_units, st.shard_tokens,
        CAST(h.head_rank AS BIGINT) AS head_rank, h.head_id,
        (SELECT balance_spread FROM b) AS balance_spread
      FROM st JOIN h USING (shard_id) WHERE h.head_rank <= 3
      ORDER BY shard_id, head_rank"""),
    doc = "deterministic global training shuffle: md5 shard draw + " +
      "md5 training order, per-shard budgets/heads/balance all " +
      "engine-replayed — no global sort, no low-cardinality rank window")

  /** q131 — the REMOVAL action over q128's spans (boilerplate strip):
    * every maximal repeated span cut from every document, clean docs
    * verbatim, planted whole-doc copies trimmed to empty on both sides.
    * The engine splices per row with an `aggregate` HOF over the doc's
    * sorted span list; DuckDB re-derives the spans (q128's CTEs) and
    * splices independently via lag-gap kept-pieces + ordered
    * string_agg — the full trimmed TEXT hash-compared, not just
    * lengths. */
  val q131 = GraftQuery(
    "q131_trim_repeated_spans",
    (spark, sfDir) => {
      val docs = Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text"))
      // count-based offset: planted ids collision-free at any SF, and
      // doc_id uniqueness is a precondition of the span operators
      val n = docs.count()
      val corpus = docs.unionByName(
        docs.filter(col("doc_id") % 25 === 0)
          .select((col("doc_id") + n).as("doc_id"), col("text")))
      Dedup.trimRepeatedSpans(corpus, "text", "doc_id", minLen = 40)
        .select(col("doc_id"), col("trimmed_text"), col("n_trimmed_chars"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH n AS (SELECT COUNT(*) AS n FROM documents),
      corpus AS (SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + (SELECT n FROM n) AS doc_id, text FROM documents
        WHERE doc_id % 25 = 0),
      w AS (SELECT doc_id, i AS pos, substr(text, i+1, 40) AS w
        FROM corpus, UNNEST(generate_series(0, length(text)-40)) AS u(i)
        WHERE length(text) >= 40),
      d AS (SELECT w FROM w GROUP BY w HAVING count(*) >= 2),
      h AS (SELECT doc_id, pos FROM w SEMI JOIN d USING (w)),
      isl AS (SELECT doc_id, pos,
          CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
              IS NULL
            OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 40
            THEN 1 ELSE 0 END AS nw
        FROM h),
      sp AS (SELECT doc_id, pos,
          SUM(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS s
        FROM isl),
      spans AS (SELECT doc_id, MIN(pos) AS st, MAX(pos) + 40 AS en
        FROM sp GROUP BY doc_id, s),
      pieces AS (
        SELECT doc_id,
          COALESCE(lag(en) OVER (PARTITION BY doc_id ORDER BY st), 0)
            AS ks, st AS ke
        FROM spans
        UNION ALL
        SELECT sp2.doc_id, MAX(sp2.en) AS ks,
          MAX(length(c.text)) AS ke
        FROM spans sp2 JOIN corpus c USING (doc_id)
        GROUP BY sp2.doc_id),
      tr AS (SELECT p.doc_id,
          string_agg(substr(c.text, p.ks + 1, p.ke - p.ks), ''
            ORDER BY p.ks) AS trimmed
        FROM pieces p JOIN corpus c USING (doc_id)
        GROUP BY p.doc_id)
      SELECT c.doc_id,
        COALESCE(tr.trimmed, c.text) AS trimmed_text,
        CAST(length(c.text) - length(COALESCE(tr.trimmed, c.text))
          AS BIGINT) AS n_trimmed_chars
      FROM corpus c LEFT JOIN tr USING (doc_id)
      ORDER BY c.doc_id"""),
    doc = "boilerplate strip: every maximal repeated span (40-char " +
      "regime) cut from every doc — trimmed TEXT itself value-replayed " +
      "via an independent SQL splice")

  /** q49 — X4 heuristic language-ID vs the labeled lang column. */
  val q49 = GraftQuery(
    "q49_langid",
    (spark, sfDir) =>
      TextAnalysis.languageId(Tables.documents(spark, sfDir), "text")
        .groupBy(col("lang"), col("lang_pred"))
        .agg(lcount().as("n"))
        .orderBy(col("lang"), col("lang_pred")),
    Some({
      def score(lang: String) = {
        val lst = TextAnalysis.markers(lang).mkString("['", "','", "']")
        s"len(list_filter(ws, w -> list_contains($lst, w)))"
      }
      s"""WITH base AS (
        SELECT lang, string_split_regex(lower(trim(text)), '\\s+') AS ws
        FROM documents),
      scored AS (SELECT lang,
          ${score("en")} AS s_en, ${score("de")} AS s_de,
          ${score("fr")} AS s_fr, ${score("es")} AS s_es
        FROM base)
      SELECT lang,
        CASE WHEN s_en + s_de + s_fr + s_es = 0 THEN 'und'
             WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
             WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
             WHEN s_fr >= s_es THEN 'fr'
             ELSE 'es' END AS lang_pred,
        COUNT(*) AS n
      FROM scored GROUP BY 1, 2 ORDER BY lang, lang_pred"""
    }),
    doc = "marker-word argmax language ID, fixed tie order")

  /** q50 — X4 TF-IDF: top-20 (doc, term) pairs. */
  val q50 = GraftQuery(
    "q50_tfidf",
    (spark, sfDir) =>
      TextAnalysis.tfidf(Tables.documents(spark, sfDir), "doc_id", "text")
        .orderBy(col("tfidf").desc, col("doc_id"), col("term"))
        .limit(20),
    Some("""WITH terms AS (
        SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        FROM documents),
      tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM terms WHERE length(term) > 0 GROUP BY 1, 2),
      dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
      n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents)
      SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
        ROUND(tf.tf * (ln((n.n + 1.0) / (dfreq.df + 1.0)) + 1.0), 6) AS tfidf
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
      ORDER BY tfidf DESC, doc_id, term LIMIT 20"""),
    doc = "explode-based TF-IDF with smoothed idf")

  /** q69 — BM25 relevance scores for a fixed 3-term query (k1=1.2,
    * b=0.75): only query-term hits shuffle; df stats broadcast; per-term
    * partials re-aggregate with the decimal sum so the double is
    * engine-replayable. */
  val q69 = GraftQuery(
    "q69_bm25",
    (spark, sfDir) =>
      TextAnalysis.bm25(Tables.documents(spark, sfDir), "doc_id", "text",
          queryTerms = Seq("join", "vector", "stream"))
        .orderBy(col("doc_id"))
        .limit(2000),
    Some("""WITH docs AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
        FROM documents),
      stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
          CAST(SUM(len(ws)) AS DOUBLE) / COUNT(*) AS avgdl FROM docs),
      hits AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS doclen,
          unnest(ws) AS term FROM docs),
      tf AS (SELECT doc_id, doclen, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM hits WHERE term IN ('join', 'vector', 'stream') GROUP BY 1, 2, 3),
      dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      parts AS (SELECT tf.doc_id,
          ln(1.0 + (s.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
            * tf.tf * (1.2 + 1.0)
            / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.doclen / s.avgdl)) AS part
        FROM tf JOIN dfreq USING (term) CROSS JOIN stats s)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matched_terms,
        ROUND(CAST(SUM(CAST(part AS DECIMAL(27,6))) AS DOUBLE), 6) AS bm25
      FROM parts GROUP BY 1 ORDER BY 1 LIMIT 2000"""),
    doc = "BM25(k1=1.2, b=0.75) for query {join, vector, stream}; hits-only shuffle")

  /** q73 — per-label embedding centroids (first 8 positions): distributed
    * position-wise mean via posexplode + hash-agg; the shuffle carries
    * labels × positions partials, never vectors. */
  val q73 = GraftQuery(
    "q73_embedding_centroids",
    (spark, sfDir) =>
      Similarity.groupCentroids(Tables.embeddings(spark, sfDir),
          "label", maxPos = 8)
        .select(col("label").cast(LongType).as("label"), col("pos"),
          col("n_vectors"), col("centroid_v")),
    Some(s"""SELECT CAST(label AS BIGINT) AS label, CAST(i AS BIGINT) AS pos,
        COUNT(*) AS n_vectors,
        ${graft.engine.relational.Exact.sqlDavg("CAST(embedding[i] AS DOUBLE)")}
          AS centroid_v
      FROM embeddings, generate_series(1, 8) t(i)
      GROUP BY 1, 2 ORDER BY 1, 2"""),
    doc = "position-wise centroid means per label; groups x dim partials shuffle")

  /** q70 — PII redaction with deterministically planted PII: every 5th doc
    * gets an email + phone derived from doc_id appended (the synthetic
    * corpus has none), then the scrubber must find and replace exactly
    * those. Counts and redacted length are integer-hashable. */
  val q70 = GraftQuery(
    "q70_pii_redact",
    (spark, sfDir) => {
      val planted = Tables.documents(spark, sfDir)
        .withColumn("text2",
          when(col("doc_id") % 5 === 0,
            concat(col("text"), lit(" contact user"), col("doc_id"),
              lit("@example.com or call 555-"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
            .otherwise(col("text")))
      TextAnalysis.redactPii(planted, "text2")
        .select(col("doc_id"), col("n_emails"), col("n_phones"),
          length(col("redacted")).cast(LongType).as("redacted_len"),
          size(regexp_extract_all(col("redacted"),
            lit(TextAnalysis.EmailRe), lit(0))).cast(LongType)
            .as("residual_matches"))
        .orderBy(col("doc_id"))
        .limit(2000)
    },
    Some("""WITH planted AS (
        SELECT doc_id,
          CASE WHEN doc_id % 5 = 0 THEN text || ' contact user' || doc_id
            || '@example.com or call 555-'
            || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
          ELSE text END AS text2
        FROM documents),
      red AS (SELECT doc_id, text2,
          regexp_replace(regexp_replace(text2,
            '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
            '555-[0-9]{4}', '<PHONE>', 'g') AS redacted
        FROM planted)
      SELECT doc_id,
        CAST(len(regexp_extract_all(text2,
          '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
        CAST(len(regexp_extract_all(text2, '555-[0-9]{4}')) AS BIGINT) AS n_phones,
        CAST(length(redacted) AS BIGINT) AS redacted_len,
        CAST(len(regexp_extract_all(redacted,
          '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS residual_matches
      FROM red ORDER BY doc_id LIMIT 2000"""),
    doc = "email/phone scrub over planted PII; residual-match column proves full redaction")

  /** q71 — within-doc repetition score: 1 − distinct/total word 3-grams. */
  val q71 = GraftQuery(
    "q71_repetition",
    (spark, sfDir) =>
      TextAnalysis.repetitionScore(Tables.documents(spark, sfDir),
          "doc_id", "text")
        .orderBy(col("doc_id"))
        .limit(2000),
    Some("""WITH t AS (SELECT doc_id,
        string_split_regex(lower(trim(text)), '\s+') AS ws FROM documents),
      sh AS (SELECT doc_id,
          CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
          ELSE list_transform(generate_series(1, len(ws) - 2),
            i -> array_to_string(ws[i:i+2], ' ')) END AS grams
        FROM t)
      SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_3grams,
        CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct_3grams,
        ROUND(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 6)
          AS repetition
      FROM sh ORDER BY doc_id LIMIT 2000"""),
    doc = "RefinedWeb-style repetition signal: duplicate 3-gram mass per doc")

  /** q72 — unigram-LM surprisal (KenLM-filter analog, corpus as LM). */
  val q72 = GraftQuery(
    "q72_surprisal",
    (spark, sfDir) =>
      TextAnalysis.unigramSurprisal(Tables.documents(spark, sfDir),
          "doc_id", "text")
        .orderBy(col("doc_id"))
        .limit(2000),
    Some("""WITH terms AS (
        SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        FROM documents),
      t AS (SELECT doc_id, term FROM terms WHERE length(term) > 0),
      total AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM t),
      probs AS (SELECT term,
          -ln(CAST(COUNT(*) AS DOUBLE) / (SELECT n FROM total)) AS neg_ln_p
        FROM t GROUP BY 1)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        ROUND(CAST(SUM(CAST(neg_ln_p AS DECIMAL(27,6))) AS DOUBLE)
          / COUNT(*), 6) AS surprisal
      FROM t JOIN probs USING (term)
      GROUP BY 1 ORDER BY 1 LIMIT 2000"""),
    doc = "mean -ln p(token) under corpus unigram LM; Zipf join via AQE skew handling")

  /** q55 — context-window chunking (size 40, overlap 8). */
  val q55 = GraftQuery(
    "q55_chunking",
    (spark, sfDir) =>
      TextAnalysis.chunkTokens(Tables.documents(spark, sfDir), "doc_id", "text",
          chunkSize = 40, overlap = 8)
        .select(col("doc_id"), col("chunk_idx"),
          size(col("chunk_tok")).cast(LongType).as("n_chunk_tokens"),
          element_at(col("chunk_tok"), 1).as("first_token"))
        .orderBy(col("doc_id"), col("chunk_idx"))
        .limit(2000),
    Some("""WITH t AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tok
        FROM documents),
      chunks AS (
        SELECT doc_id, i AS chunk_idx,
          list_slice(tok, i * 32 + 1, i * 32 + 40) AS chunk_tok
        FROM t, UNNEST(generate_series(0,
          CAST(ceil(CAST(len(tok) AS DOUBLE) / 32) AS INT) - 1)) AS u(i))
      SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        CAST(len(chunk_tok) AS BIGINT) AS n_chunk_tokens,
        chunk_tok[1] AS first_token
      FROM chunks WHERE len(chunk_tok) > 0
      ORDER BY doc_id, chunk_idx LIMIT 2000"""),
    doc = "context-window chunking: 40-token windows, 8-token overlap")

  /** q56 — text normalization (lowercase, strip symbols, collapse space). */
  val q56 = GraftQuery(
    "q56_normalize",
    (spark, sfDir) =>
      Tables.documents(spark, sfDir)
        .select(col("doc_id"),
          TextAnalysis.normalizeText(col("text")).as("norm"),
          length(TextAnalysis.normalizeText(col("text"))).cast(LongType)
            .as("norm_len"))
        .orderBy(col("doc_id"))
        .limit(1000),
    Some("""SELECT doc_id,
        trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
          '\s+', ' ', 'g')) AS norm,
        CAST(length(trim(regexp_replace(regexp_replace(lower(text),
          '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS BIGINT) AS norm_len
      FROM documents ORDER BY doc_id LIMIT 1000"""),
    doc = "normalization: lowercase, symbol strip, whitespace collapse")

  // ---- hash-family measurement queries (planted-dup tests in ScalaTest) ----

  /** X2a — MinHash+LSH near-dup in the APPROXIMATE regime (J >= 0.3),
    * promoted from a rows-only summary to a FULL VALUE-LEVEL ORACLE: every
    * emitted (id_a, id_b, jaccard) row is compared against DuckDB's exact
    * all-pairs shingle-Jaccard twin.
    *
    * Why that's sound: the verify stage makes the output a SUBSET of the
    * exact J >= 0.3 pair set by construction; the only approximation left is
    * banding RECALL. On this corpus every organic near-dup pair has
    * J >= 0.89 (measured at sf0.001/sf0.01 — tools/DumpPairs + the exact
    * DuckDB twin diffed to zero missed pairs, zero value diffs), where the
    * 32-hash/8-band collision probability is 1-(1-J^4)^8 > 0.9996 — and the
    * hashes are deterministic, so the equality observed locally holds in the
    * driver run. A band miss (recall < 1) would surface as a red oracle row:
    * exactly the recall regression this query exists to measure. q75 still
    * pins the guaranteed-exact J = 1.0 regime on planted duplicates.
    *
    * OPERATOR NOTE on a red row: the equality is an EMPIRICAL property of
    * the pinned corpora, not of the algorithm — banding recall for a
    * hypothetical pair near J = 0.3 is only ~11%, so REGENERATED testdata
    * (or a new SF) can red this row with the implementation perfectly
    * healthy. Before treating a red x42 (or the CC-downstream x46) as a
    * code regression, re-run tools/DumpPairs against the new corpus and
    * re-validate the J >= 0.89 premise above; if a new organic pair sits in
    * the low-recall band, the row needs re-pinning, not a code fix. */
  val x42 = GraftQuery(
    "x42_minhash_neardup",
    (spark, sfDir) =>
      // localCheckpoint before the total ORDER BY: orderBy's range-partition
      // sampling would otherwise re-execute the whole MinHash pipeline a
      // second time; the verified pair set is tiny, the pipeline is not
      Dedup.minHashNearDups(Tables.documents(spark, sfDir), "text", "doc_id",
          jaccardThreshold = 0.3)
        .localCheckpoint()
        .orderBy(col("id_a"), col("id_b")),
    Some("""WITH tok AS (SELECT doc_id,
          string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
      sh AS (SELECT doc_id, CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
          ELSE list_transform(range(1, len(t) - 1),
            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END AS s
        FROM tok),
      d AS (SELECT doc_id, list_distinct(s) AS s FROM sh),
      e AS (SELECT doc_id, unnest(s) AS g FROM d),
      inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS ni
        FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      card AS (SELECT doc_id, len(s) AS n FROM d)
      SELECT ia AS id_a, ib AS id_b,
        ROUND(ni::DOUBLE / (ca.n + cb.n - ni), 6) AS jaccard
      FROM inter JOIN card ca ON ca.doc_id = inter.ia
        JOIN card cb ON cb.doc_id = inter.ib
      WHERE ni::DOUBLE / (ca.n + cb.n - ni) >= 0.3
      ORDER BY id_a, id_b"""),
    doc = "MinHash(32 hashes, 8 bands) + exact-Jaccard verify, value-checked " +
      "against DuckDB's exact-Jaccard twin over the shared-shingle inverted " +
      "index (J >= 0.3 regime; equals all-pairs since J > 0 needs a shared " +
      "shingle, and |A union B| = |A|+|B|-|A intersect B| on distinct sets)")

  /** X2b — SimHash near-dups, ORACLE-checked in the exact regime (the
    * q75/q78 pattern). maxHamming = 3 is the guaranteed-recall radius for
    * 4×16-bit bands; the pairs are generated by that full approximate-regime
    * run (banding, capped buckets, Hamming verify — nothing is narrowed for
    * the oracle), and the value pin is the regime where SimHash is provably
    * exact: planted identical documents have identical token multisets ⇒
    * identical fingerprints ⇒ they MUST emerge as Hamming-0 pairs (banding
    * finds them by pigeonhole). DuckDB recomputes that pair set
    * independently by grouping on the normalized text. The recall readout
    * stays in the row: `exact_recall` is computed honestly in Spark
    * (found ÷ expected from a content-key self-grouping) and pinned 1.0;
    * `zero_capped_buckets` pins the truncation telemetry TRUE.
    *
    * A red row means a real regression (missed planted dup, fingerprint
    * nondeterminism, or bucket truncation) — but like x42/x46, first
    * re-validate the corpus premise if testdata was regenerated: an organic
    * pair with DIFFERENT normalized text can legitimately land at
    * Hamming 0 on new data (the key-equality verify keeps it out of this
    * row, but re-run tools/DumpPairs before treating a red as a code bug). */
  val x43 = GraftQuery(
    "x43_simhash_neardup",
    (spark, sfDir) => {
      val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
      // planted exact dups: same corpus construction as q75
      val corpus = docs.unionByName(
        docs.filter(col("doc_id") % 25 === 0)
          .select((col("doc_id") + 100000).as("doc_id"), col("text")))
      val cap = 1000 // ONE binding for the bucket cap and its telemetry
      // ONE banding+bucketing pass, persisted: pair expansion and the
      // truncation telemetry both read it (recomputing the telemetry from
      // scratch would re-scan and re-shuffle the whole corpus).
      val buckets = Dedup.simHashBuckets(corpus, "text", "doc_id",
        maxHamming = 3, maxBucketSize = cap).persist()
      try {
        val pairs = Dedup.simHashPairsFromBuckets(buckets, maxHamming = 3)
        // exact regime: Hamming-0 pairs verified by content-key equality
        // (the same exact-criterion verify minHashNearDups does with
        // Jaccard — identical normalized text is what "exact" MEANS here)
        val keyed = corpus.select(col("doc_id"),
          Dedup.contentKey(col("text")).as("ck"))
        val exactPairs = pairs.filter(col("hamming") === 0)
          .join(keyed.select(col("doc_id").as("id_a"), col("ck").as("ck_a")),
            Seq("id_a"))
          .join(keyed.select(col("doc_id").as("id_b"), col("ck").as("ck_b")),
            Seq("id_b"))
          .filter(col("ck_a") === col("ck_b"))
          .select(col("id_a"), col("id_b"), col("hamming"))
          // localCheckpoint: the (small) pair set feeds a count AND the
          // total ORDER BY — without it each re-runs the banding pipeline
          .localCheckpoint()
        // honest recall: expected pair count from the content-key grouping,
        // computed in Spark (DuckDB pins the quotient at exactly 1.0)
        val nExpected = keyed.groupBy(col("ck"))
          .agg(count(lit(1)).as("n")).filter(col("n") > 1)
          .agg(coalesce(sum(col("n") * (col("n") - 1) / 2), lit(0.0)))
          .head().getDouble(0).toLong
        val nFound = exactPairs.count()
        val recall = if (nExpected == 0) 1.0 else nFound.toDouble / nExpected
        val nCapped = buckets.filter(col("n_full") > cap).count()
        exactPairs
          .withColumn("exact_recall", lit(recall))
          .withColumn("zero_capped_buckets", lit(nCapped == 0L))
          .orderBy(col("id_a"), col("id_b"))
      } finally buckets.unpersist()
    },
    Some("""WITH corpus AS (SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000 AS doc_id, text FROM documents
        WHERE doc_id % 25 = 0),
      k AS (SELECT doc_id, md5(lower(trim(text))) AS ck FROM corpus)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(0 AS BIGINT) AS hamming,
        CAST(1.0 AS DOUBLE) AS exact_recall, TRUE AS zero_capped_buckets
      FROM k a JOIN k b ON a.ck = b.ck AND a.doc_id < b.doc_id
      ORDER BY id_a, id_b"""),
    doc = "SimHash64 banding + Hamming verify at hamming<=3; exact-regime " +
      "oracle: planted identical docs == Hamming-0 pairs, recall pinned 1.0")

  /** X2e/X3 — embedding-cosine near-dup, ORACLE-checked in the exact
    * regime (the x43/q75 pattern). bits=8 pinned for round-over-round
    * comparability (production default is auto-sized bits); the pairs are
    * generated by the full APPROXIMATE 0.8-threshold run — LSH blocking,
    * capped buckets, cosine verify, nothing narrowed for the oracle — and
    * the value pin is the regime where sign-LSH is provably exact:
    * planted identical vectors hash to the same bucket in every plane set,
    * so they MUST emerge as cosine-1 pairs. The emitted subset is verified
    * by exact embedding equality (the array-level analog of x43's
    * content-key check), DuckDB recomputes it by grouping on the rendered
    * vector, `exact_recall` is computed honestly in Spark and pinned 1.0,
    * and `zero_capped_buckets` pins the truncation telemetry TRUE.
    * q78 pins the same machinery at threshold 0.999999 over the organic
    * corpus; this row pins the 0.8 operating regime's recall floor. */
  val x45 = GraftQuery(
    "x45_embedding_neardup",
    (spark, sfDir) => {
      val emb = Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding"))
      val corpus = emb.unionByName(
        emb.filter(col("vec_id") % 25 === 0)
          .select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
      val cap = 1000
      // ONE bucketing pass, persisted: pair expansion and the truncation
      // telemetry both read it (x43's discipline).
      val buckets = Similarity.embeddingBuckets(corpus, bits = 8,
        maxBucketSize = cap).persist()
      try {
        val pairs = Similarity
          .embeddingPairsFromBuckets(buckets, corpus, threshold = 0.8)
        // exact regime: cosine-1 candidates verified by ARRAY equality
        // (identical vectors — rounding can't promote a near-pair in)
        val e = corpus.select(col("vec_id"), col("embedding"))
        val exactPairs = pairs
          .join(e.select(col("vec_id").as("id_a"), col("embedding").as("e_a")),
            Seq("id_a"))
          .join(e.select(col("vec_id").as("id_b"), col("embedding").as("e_b")),
            Seq("id_b"))
          .filter(col("e_a") === col("e_b"))
          .select(col("id_a"), col("id_b"), col("cosine"))
          .localCheckpoint() // feeds a count AND the total ORDER BY
        val nExpected = corpus
          .groupBy(md5(to_json(col("embedding"))).as("k"))
          .agg(count(lit(1)).as("n")).filter(col("n") > 1)
          .agg(coalesce(sum(col("n") * (col("n") - 1) / 2), lit(0.0)))
          .head().getDouble(0).toLong
        val nFound = exactPairs.count()
        val recall = if (nExpected == 0) 1.0 else nFound.toDouble / nExpected
        val nCapped = buckets.filter(col("n_full") > cap).count()
        exactPairs
          .withColumn("exact_recall", lit(recall))
          .withColumn("zero_capped_buckets", lit(nCapped == 0L))
          .orderBy(col("id_a"), col("id_b"))
      } finally buckets.unpersist()
    },
    Some("""WITH corpus AS (SELECT vec_id, embedding FROM embeddings
        UNION ALL SELECT vec_id + 100000, embedding FROM embeddings
        WHERE vec_id % 25 = 0),
      k AS (SELECT vec_id,
          md5(array_to_string(embedding, ',')) AS kk FROM corpus)
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        CAST(1.0 AS DOUBLE) AS cosine, CAST(1.0 AS DOUBLE) AS exact_recall,
        TRUE AS zero_capped_buckets
      FROM k a JOIN k b ON a.kk = b.kk AND a.vec_id < b.vec_id
      ORDER BY id_a, id_b"""),
    doc = "sign-LSH capped-bucket near-dup at the 0.8 regime; exact-regime " +
      "oracle: planted identical vectors == cosine-1 pairs, recall pinned 1.0")

  /** X3 — LSH approximate top-k with recall vs the exact answer. */
  val x44 = GraftQuery(
    "x44_ann_lsh_recall",
    (spark, sfDir) => {
      // One materialized scan shared by the exact and approximate paths
      // (the harness reads the corpus 2×; without the cache each path
      // re-scans parquet). fanOut BEFORE the persist: the table is one
      // row group, so an unfanned cache pins every per-query scoring
      // kernel over it to a single task (guide §2.5 input skew).
      val emb = graft.engine.Par.fanOutSized(
        Tables.embeddings(spark, sfDir), col("vec_id")).persist()
      try {
        val queries = emb.filter(col("vec_id") < 10)
        // All result sets are tiny (≤ 5·|queries| rows): collect once and
        // compare driver-side instead of re-running each plan for every
        // count — and the four collects are independent reads of the
        // persisted corpus, so they overlap.
        def pairs(df: org.apache.spark.sql.DataFrame) =
          df.select(col("qid"), col("nid")).collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet
        val (exact, approx, mp, op) = Par.overlap(spark) { s =>
          val exactF = s.fork(pairs(
            Similarity.bruteForceTopKAgg(emb, queries, 5)))
          val approxF = s.fork(pairs(
            Similarity.lshTopK(emb, queries, 5, bits = 4)))
          val mpF = s.fork(pairs(
            Similarity.lshTopK(emb, queries, 5, bits = 4, multiProbe = true)))
          // The published >=0.9-recall operating point from the AnnSweep
          // curve in BASELINE.md: bits=6, Hamming-1 probes, 8 hash tables
          // (0.94 recall at 0.875 expected candidate fraction on this
          // corpus — isotropic synthetic embeddings are LSH's worst case;
          // see the BASELINE.md ANN section for the full curve).
          val op = pairs(Similarity.lshTopK(emb, queries, 5,
            bits = 6, probeRadius = 1, tables = 8))
          (exactF.join(), approxF.join(), mpF.join(), op)
        }
        val n = math.max(exact.size, 1)
        val recall = exact.intersect(approx).size.toDouble / n
        val recallMp = exact.intersect(mp).size.toDouble / n
        val recallOp = exact.intersect(op).size.toDouble / n
        import spark.implicits._
        // CONTRACT-BOOLEAN ORACLE (the q106 pattern): raw recalls are
        // data-dependent doubles DuckDB cannot recompute, but the published
        // GUARANTEES are decidable — the BASELINE.md operating point
        // (bits=6, radius=1, 8 tables → 0.94 measured) must clear the 0.9
        // bar it was picked for, and multi-probing must never lose recall
        // (its candidate set is a superset, and exact-cosine re-scoring of
        // a superset can only displace lower-cosine candidates). The DuckDB
        // twin recomputes n_exact from the corpus (k rows per query) and
        // pins both booleans TRUE, so a recall regression flips the hash.
        // SimilaritySpec still pins the raw curve values.
        Seq((exact.size.toLong, recallOp >= 0.9, recallMp >= recall))
          .toDF("n_exact", "recall_operating_ok", "multiprobe_monotone")
      } finally emb.unpersist()
    },
    Some("""SELECT CAST(5 * (SELECT COUNT(*) FROM embeddings WHERE vec_id < 10)
          AS BIGINT) AS n_exact,
        TRUE AS recall_operating_ok, TRUE AS multiprobe_monotone"""),
    doc = "LSH ANN vs brute force; contract oracle: published operating " +
      "point (bits=6, radius=1, 8 tables) holds >=0.9 recall, multi-probe " +
      "is recall-monotone")

  /** X3 — IVF approximate top-k with recall vs the exact answer. */
  val x47 = GraftQuery(
    "x47_ann_ivf_recall",
    (spark, sfDir) => {
      // Cached: the exact path, the Lloyd centroid-training iterations, and
      // the IVF probe all share one materialized corpus scan. fanOut
      // BEFORE the persist (x44's argument): unfanned, every scoring and
      // Lloyd pass over the cache is a single-task stage.
      val emb = graft.engine.Par.fanOutSized(
        Tables.embeddings(spark, sfDir), col("vec_id")).persist()
      try {
        val queries = emb.filter(col("vec_id") < 10)
        // the exact census is independent of the whole training+probe
        // chain, and the two probes are independent of each other once
        // the centroids exist — overlap both
        val (exact, approx, op) = Par.overlap(spark) { s =>
          val exactF = s.fork(
            Similarity.bruteForceTopKAgg(emb, queries, 5)
              .select(col("qid"), col("nid")).collect()
              .map(r => (r.getLong(0), r.getLong(1))).toSet)
          // Both codebooks train off ONE TakeOrdered seed job (the 16-seed
          // sample is the prefix of the 32-seed sample by construction),
          // saving a corpus job per extra codebook vs r4's independent
          // ivfCentroids calls — that plus the shared persisted scan
          // brings x47 back under the 5 s target. Lloyd iters stay at 2
          // so the codebooks (and the published recall_operating) match
          // the BASELINE.md sweep exactly.
          val seeds32 = Similarity.ivfSeeds(emb, 32)
          val Seq(cents16, cents32) = Similarity.ivfRefineAll(emb,
            Seq(seeds32.take(16), seeds32), iters = 2)
          val approxF = s.fork(
            Similarity.ivfTopK(emb, queries, 5, nlist = 16, nprobe = 4,
                centroids = Some(cents16))
              .select(col("qid"), col("nid")).collect()
              .map(r => (r.getLong(0), r.getLong(1))).toSet)
          // IVF operating point from the AnnSweep curve (BASELINE.md):
          // nlist=32, nprobe=16 — the best observed recall at a
          // half-corpus scan on this isotropic corpus (recall ≈ scanned
          // fraction is the information-theoretic ceiling here; the LSH
          // path owns the ≥0.9 dial, this row documents IVF's best
          // half-scan point).
          val op = Similarity.ivfTopK(emb, queries, 5, nlist = 32,
              nprobe = 16, centroids = Some(cents32))
            .select(col("qid"), col("nid")).collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet
          (exactF.join(), approxF.join(), op)
        }
        val n = math.max(exact.size, 1)
        val recall = exact.intersect(approx).size.toDouble / n
        val recallOp = exact.intersect(op).size.toDouble / n
        import spark.implicits._
        // CONTRACT-BOOLEAN ORACLE (q106 pattern, x44's argument): on an
        // isotropic corpus recall ≈ scanned fraction is the
        // information-theoretic expectation, so BOTH probes carry the
        // SCALE-INVARIANT floor recall >= its scan fraction (quarter-scan
        // 0.25, half-scan 0.5). The former 0.8 floor on the operating
        // point was an sf0.01 empirical reading (0.87/0.88 in the
        // AnnSweep) that does NOT transfer across corpus size — at sf0.1
        // the same nlist=32/nprobe=16 point measures below 0.8 because
        // the top-5 of a 10× corpus concentrate harder per query while
        // the cell structure stays information-free; the sweep's measured
        // points stay recorded in BASELINE.md as measurements, not
        // contracts. The twin pins both TRUE next to the SQL-recomputed
        // n_exact.
        Seq((exact.size.toLong, recall >= 0.25, recallOp >= 0.5))
          .toDF("n_exact", "recall_ge_scan_fraction",
            "recall_op_ge_scan_fraction")
      } finally emb.unpersist()
    },
    Some("""SELECT CAST(5 * (SELECT COUNT(*) FROM embeddings WHERE vec_id < 10)
          AS BIGINT) AS n_exact,
        TRUE AS recall_ge_scan_fraction, TRUE AS recall_op_ge_scan_fraction"""),
    doc = "IVF ANN vs brute force; contract oracle: each probe's recall " +
      ">= its scan fraction (the scale-invariant isotropic floor, " +
      "verified at sf0.01 AND sf0.1)")

  /** q87 — IVF-PQ (the production ANN composition: coarse cells partition
    * the storage, PQ codes are what a probe scans) ORACLE-checked by
    * composing both operators' exact settings: nprobe = nlist probes every
    * cell (IVF exact) and lossless codebooks make ADC exact (q84's
    * argument), so the composed ranking must equal DuckDB's brute-force
    * cosine ranking on the same pinned corpus — q84's oracle verbatim.
    * A cell-assignment/probe mismatch, or any candidate lost between the
    * two stages, breaks the rows. */
  val q87 = GraftQuery(
    "q87_ivfpq_exact",
    (spark, sfDir) => {
      val emb = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 100)
      // two independent trainings over the same corpus — overlap them
      // (publishIndex does the same for the published family)
      val (cents, books) = Par.overlap(spark) { s =>
        val centsF = s.fork(Similarity.ivfCentroids(emb, nlist = 4, iters = 1))
        val books = Similarity.pqCodebooksExact(emb, m = 4)
        (centsF.join(), books)
      }
      Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 10), 5,
          cents, books, nprobe = 4)
        .select(col("qid"), col("rnk"), col("nid"))
        .orderBy(col("qid"), col("rnk"))
    },
    q84.oracle, // same pinned corpus, same exact ranking
    doc = "IVF-PQ at nprobe=nlist + lossless codebooks == exact cosine ranking")

  /** q111 — the PUBLISHED-index ANN lifecycle (VERDICT r9 gap 7): q87
    * re-run through versioned storage instead of in-query training state.
    * Codebooks are trained once and PUBLISHED (AnnIndex/SnapshotStore),
    * loaded back from the store, the corpus is encoded in two ingest
    * batches — bootstrap then insert-only append (hardlink carryover,
    * nothing re-encoded) — and the probe runs against the STORE's current
    * version. At q87's exact settings (nprobe = nlist, lossless
    * codebooks) the result must still equal DuckDB's brute-force cosine
    * ranking: any loss in codebook serialization round-trip, cell
    * assignment drift between load and train, or a row dropped/duplicated
    * by the append carryover breaks the rows. */
  val q111 = GraftQuery(
    "q111_published_ann",
    (spark, sfDir) => {
      val root = Artifacts.scratch("q111_ann")
      val emb = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 100)
      // train once, publish, and use ONLY what the store gives back
      AnnIndex.publishIndex(spark, s"$root/index",
        Similarity.ivfCentroids(emb, nlist = 4, iters = 1),
        Similarity.pqCodebooksExact(emb, m = 4))
      val (cents, books) = AnnIndex.loadIndex(spark, s"$root/index")
      // two ingest batches: bootstrap publish, then insert-only append
      AnnIndex.publishCodes(emb.filter(col("vec_id") < 50), s"$root/codes",
        cents, books, nBuckets = 4)
      AnnIndex.appendCodes(emb.filter(col("vec_id") >= 50), s"$root/codes",
        cents, books)
      Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 10), 5,
          cents, books, nprobe = 4,
          codes = Some(AnnIndex.readCodes(spark, s"$root/codes")))
        .select(col("qid"), col("rnk"), col("nid"))
        .orderBy(col("qid"), col("rnk"))
    },
    q84.oracle, // same pinned corpus, same exact ranking
    doc = "published-codebook ANN: train->publish->load->bootstrap+append " +
      "codes->probe current version == exact cosine ranking")

  /** q85 — SemDeDup-style semantic dedup (X2e end-to-end) ORACLE-checked in
    * its exact regime: planted duplicate CLIQUES (every 25th vector copied
    * once, every 50th copied twice → 3-cliques) at threshold 0.999999,
    * where identical vectors provably co-bucket (q78's argument) and no
    * organic pair scores that high — so the survivor set is exactly "the
    * min id of each identical-content group", which DuckDB recomputes by
    * grouping on the rendered vector. Pins the whole pipeline: LSH-blocked
    * pairs → pointer-doubling CC → representative anti-join. */
  val q85 = GraftQuery(
    "q85_semantic_dedup",
    (spark, sfDir) => {
      val emb = Tables.embeddings(spark, sfDir)
      def shifted(mod: Int, off: Int) = emb.filter(col("vec_id") % mod === 0)
        .select((col("vec_id") + off).as("vec_id"), col("embedding"),
          col("label"))
      val corpus = emb.unionByName(shifted(25, 100000))
        .unionByName(shifted(50, 200000))
      Similarity.semanticDedup(corpus, threshold = 0.999999)
        .select(col("vec_id")).orderBy(col("vec_id"))
    },
    Some("""WITH corpus AS (SELECT vec_id, embedding FROM embeddings
        UNION ALL SELECT vec_id + 100000, embedding FROM embeddings
          WHERE vec_id % 25 = 0
        UNION ALL SELECT vec_id + 200000, embedding FROM embeddings
          WHERE vec_id % 50 = 0),
      k AS (SELECT vec_id,
          md5(array_to_string(embedding, ',')) AS kk FROM corpus),
      g AS (SELECT vec_id, MIN(vec_id) OVER (PARTITION BY kk) AS m FROM k)
      SELECT vec_id FROM g WHERE vec_id = m ORDER BY vec_id"""),
    doc = "semantic dedup survivors over planted duplicate cliques == " +
      "min id per identical-content group (value-level)")

  /** X3 — product-quantization ANN recall harness (q84 value-pins the ADC
    * machinery in its lossless regime; this measures the TRAINED operating
    * point). Codebooks m=16 × k=32 store each vector as 16 bytes — a 16×
    * compressed corpus — and the published point re-ranks the ADC scan's
    * top-100 candidates with exact cosine (full-vector reads stay
    * O(queries·100), never corpus-shaped). PqSweep's grid (BASELINE.md):
    * raw ADC plateaus near 0.5 on this isotropic corpus (no inter-dimension
    * structure to exploit — the same worst case BASELINE.md records for
    * sign-LSH); m=16/k=32 re-rank@100 reads 0.98 at sf0.1 where the denser
    * 8-byte m=8/k=64 point decays to 0.82. */
  val x48 = GraftQuery(
    "x48_ann_pq_recall",
    (spark, sfDir) => {
      // One materialized scan shared by training, both PQ paths, and the
      // exact baseline (same discipline as x44/x47, fanned like them).
      val emb = graft.engine.Par.fanOutSized(
        Tables.embeddings(spark, sfDir), col("vec_id")).persist()
      try {
        val queries = emb.filter(col("vec_id") < 10)
        // the exact census is independent of the training → encode →
        // rerank chain — overlap it
        val (exact, adc100) = Par.overlap(spark) { s =>
          val exactF = s.fork(
            Similarity.bruteForceTopKAgg(emb, queries, 5)
              .select(col("qid"), col("nid")).collect()
              .map(r => (r.getLong(0), r.getLong(1))).toSet)
          // Codebooks train on a 25% deterministic hash-sample (codebook
          // quality saturates long before a full pass — the ivfCentroids
          // scale note; at 100 TB nobody Lloyd-scans the corpus). The
          // corpus is encoded once because only ONE pqTopK call runs
          // below — its ADC ranking's rnk<=5 prefix is the raw-ADC point
          // and its full 100 candidates feed the re-rank. A second pqTopK
          // call would re-encode: pass pqTopK's `codes` parameter if
          // extending this.
          val books = Similarity.pqTrain(
            Curation.hashSample(emb, col("vec_id"), 0.25), m = 16, k = 32,
            iters = 2)
          // ONE ADC ranking serves both points: its rnk<=5 prefix IS the
          // raw-ADC answer, and its full 100 candidates feed the exact
          // re-rank stage (pqExactRerank == pqTopK(rerank=100)'s second
          // stage) — no second code scan
          val adc100 = Similarity.pqTopK(emb, queries, 100, books)
            .select(col("qid"), col("rnk"), col("nid")).localCheckpoint()
          (exactF.join(), adc100)
        }
        def recallOf(pairs: Set[(Long, Long)]): Double =
          exact.intersect(pairs).size.toDouble / math.max(exact.size, 1)
        val adcTop5 = adc100.filter(col("rnk") <= 5)
          .select(col("qid"), col("nid")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val reranked = Similarity.pqExactRerank(emb, queries, adc100, 5)
          .select(col("qid"), col("nid")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        import spark.implicits._
        val recallAdc = recallOf(adcTop5)
        val recallRr = recallOf(reranked)
        // CONTRACT-BOOLEAN ORACLE (q106 pattern, x44's argument): the
        // PqSweep findings are decidable guarantees — raw ADC at m=16/k=32
        // plateaus near 0.5 on this isotropic corpus (0.48 measured; floor
        // 0.3 leaves the documented host band), the rerank@100 operating
        // point reads 0.98-1.0 across SFs (floor 0.9), and reranking can
        // never lose recall vs its own ADC prefix (top-5 ⊂ top-100 and
        // exact-cosine re-scoring of a superset only displaces
        // lower-cosine candidates). DuckDB pins all three TRUE next to the
        // SQL-recomputed n_exact.
        Seq((exact.size.toLong, recallAdc >= 0.3, recallRr >= 0.9,
          recallRr >= recallAdc))
          .toDF("n_exact", "recall_adc_ok", "recall_rerank_ok",
            "rerank_monotone")
      } finally emb.unpersist()
    },
    Some("""SELECT CAST(5 * (SELECT COUNT(*) FROM embeddings WHERE vec_id < 10)
          AS BIGINT) AS n_exact,
        TRUE AS recall_adc_ok, TRUE AS recall_rerank_ok,
        TRUE AS rerank_monotone"""),
    doc = "PQ ANN vs brute force (m=16 x k=32, 16x compression); contract " +
      "oracle: ADC plateau floor, rerank@100 >=0.9, rerank recall-monotone")

  /** X2 end-to-end — MinHash pairs → transitive clusters → survivors,
    * promoted to a FULL VALUE-LEVEL ORACLE: every document's cluster label
    * and survivor flag is compared against DuckDB recomputing the pair
    * graph (exact all-pairs Jaccard — sound for the same reason as x42's
    * oracle) and its transitive closure with a recursive CTE. q76 pins the
    * CC machinery on a deterministic chain graph; this pins the WHOLE
    * pipeline (MinHash pairs → pointer-doubling CC → min-id representative)
    * on the organic near-dup graph. */
  val x46 = GraftQuery(
    "x46_neardup_cluster_dedup",
    (spark, sfDir) => {
      val docs = Tables.documents(spark, sfDir)
      // pairs are tiny — checkpoint once so the clustering iterations don't
      // re-run the MinHash pipeline
      val pairs = Dedup.minHashNearDups(docs, "text", "doc_id",
        jaccardThreshold = 0.3).localCheckpoint()
      val labels = Dedup.connectedComponents(pairs)
      docs.select(col("doc_id"))
        .join(labels, col("doc_id") === col("id"), "left")
        .select(col("doc_id"),
          coalesce(col("comp"), col("doc_id")).as("component"),
          (coalesce(col("comp"), col("doc_id")) === col("doc_id"))
            .cast("int").as("is_survivor"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH RECURSIVE tok AS (SELECT doc_id,
          string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
      sh AS (SELECT doc_id, CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
          ELSE list_transform(range(1, len(t) - 1),
            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END AS s
        FROM tok),
      d AS (SELECT doc_id, list_distinct(s) AS s FROM sh),
      ex AS (SELECT doc_id, unnest(s) AS g FROM d),
      inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS ni
        FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      card AS (SELECT doc_id, len(s) AS n FROM d),
      pairs AS (SELECT ia, ib FROM inter
        JOIN card ca ON ca.doc_id = inter.ia
        JOIN card cb ON cb.doc_id = inter.ib
        WHERE ni::DOUBLE / (ca.n + cb.n - ni) >= 0.3),
      edges AS (SELECT ia AS src, ib AS dst FROM pairs
        UNION ALL SELECT ib, ia FROM pairs),
      nodes AS (SELECT DISTINCT src AS id FROM edges),
      walk(id, cur) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT w.id, e.dst FROM walk w JOIN edges e ON e.src = w.cur),
      lab AS (SELECT id, MIN(cur) AS component FROM walk GROUP BY id)
      SELECT doc_id, COALESCE(l.component, doc_id) AS component,
        CAST(COALESCE(l.component, doc_id) = doc_id AS INT) AS is_survivor
      FROM documents LEFT JOIN lab l ON l.id = doc_id
      ORDER BY doc_id"""),
    doc = "near-dup pipeline pairs -> connected components -> representatives, " +
      "value-checked against a recursive-CTE closure of the exact pair graph " +
      "(pairs via the shared-shingle inverted index — equal to all-pairs, " +
      "J > 0 needs a shared shingle — so the twin replays at sf0.1 too)")

  /** x51 — rolling-hash fingerprints (custom Catalyst expr), ORACLE-checked
    * at the VALUE level: the modular polynomial hash is replayed in DuckDB
    * as a list_reduce fold over code points, so every emitted fingerprint is
    * compared exactly (a distinct-count-only check would pass for any two
    * collision-free hash functions). */
  val x51 = GraftQuery(
    "x51_fingerprint",
    (spark, sfDir) => {
      import graft.engine.functions.F
      Tables.documents(spark, sfDir)
        .select(col("doc_id"),
          F.rollingHash(lower(trim(col("text")))).as("fp"))
        .orderBy(col("doc_id"))
        .limit(1000)
    },
    Some("""SELECT doc_id,
      CASE WHEN length(lower(trim(text))) = 0 THEN 0
      ELSE list_reduce(
        list_transform(range(1, length(lower(trim(text))) + 1),
          i -> CAST(ord(array_extract(lower(trim(text)), i)) AS BIGINT)),
        (acc, x) -> (acc * 131 + x) % 1000000007) END AS fp
      FROM documents ORDER BY doc_id LIMIT 1000"""),
    doc = "rolling-hash fingerprints, value-level DuckDB oracle via list_reduce")

  /** q60 — deterministic md5-bucket sampling (reproducible 10% subcorpus).
    * Unlike seeded `sample()`, membership is a pure function of the key, so
    * it is partitioning-stable, engine-replayable, and composable across
    * ingestion batches — the only sampling that audits cleanly at 100 TB. */
  val q60 = GraftQuery(
    "q60_hash_sample",
    (spark, sfDir) =>
      Curation.hashSample(Tables.documents(spark, sfDir), col("doc_id"), 0.1)
        .select(col("doc_id"),
          substring(md5(col("doc_id").cast("string").cast("binary")), 1, 4)
            .as("bucket"),
          col("lang"), col("source"))
        .orderBy(col("doc_id")),
    Some(s"""SELECT doc_id,
        substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS bucket, lang, source
      FROM documents
      WHERE ${Curation.sqlHashSamplePredicate("doc_id", 0.1)}
      ORDER BY doc_id"""),
    doc = "deterministic md5-bucket 10% sample; membership replayable by any engine")

  /** q61 — C4-style corpus filter: exact dedup → quality gate → language
    * gate → token-length gate, the end-to-end curation pipeline assembled
    * from the verified q40/q47/q49/q48 pieces. */
  val q61 = GraftQuery(
    "q61_corpus_filter",
    (spark, sfDir) =>
      Curation.corpusFilter(Tables.documents(spark, sfDir))
        .orderBy(col("doc_id")),
    Some({
      val allMarkers = TextAnalysis.markers.values.flatten.toSeq.distinct
        .sorted.mkString("['", "','", "']")
      def score(lang: String) = {
        val lst = TextAnalysis.markers(lang).mkString("['", "','", "']")
        s"len(list_filter(ws, w -> list_contains($lst, w)))"
      }
      s"""WITH dedup AS (
        SELECT doc_id, text FROM (
          SELECT doc_id, text, ROW_NUMBER() OVER (
            PARTITION BY md5(lower(trim(text))) ORDER BY doc_id) AS rn
          FROM documents) WHERE rn = 1),
      base AS (
        SELECT doc_id, text,
          string_split_regex(lower(trim(text)), '\\s+') AS ws
        FROM dedup),
      scored AS (
        SELECT doc_id, text, ws,
          CAST(len(list_filter(ws, w -> list_contains($allMarkers, w)))
            AS DOUBLE) / len(ws) AS sw_raw,
          CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
            AS DOUBLE) / length(text) AS dg_raw,
          CASE WHEN len(ws) BETWEEN 20 AND 2000 THEN 1.0
               WHEN len(ws) BETWEEN 5 AND 5000 THEN 0.5
               ELSE 0.0 END AS length_score,
          ${score("en")} AS s_en, ${score("de")} AS s_de,
          ${score("fr")} AS s_fr, ${score("es")} AS s_es,
          len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]', 0))
            AS n_tokens
        FROM base),
      gated AS (
        SELECT doc_id, text,
          CASE WHEN s_en + s_de + s_fr + s_es = 0 THEN 'und'
               WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
               WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
               WHEN s_fr >= s_es THEN 'fr'
               ELSE 'es' END AS lang_pred,
          CAST(n_tokens AS BIGINT) AS n_tokens,
          ROUND(0.5 * length_score + 0.3 * least(sw_raw * 5.0, 1.0)
            + 0.2 * (1.0 - least(dg_raw * 10.0, 1.0)), 6) AS quality
        FROM scored)
      SELECT doc_id, text, lang_pred, n_tokens, quality FROM gated
      WHERE quality >= 0.5 AND lang_pred = 'en'
        AND n_tokens BETWEEN 20 AND 5000
      ORDER BY doc_id"""
    }),
    doc = "C4-style curation: dedup + quality + language + length gates, end to end")

  /** q62 — sequence packing for pretraining: documents concatenated in
    * doc_id order within each source shard and cut every 2048 tokens; a
    * doc's pack is where its first token lands. Sharding keeps the
    * prefix-sum window off a single partition (the 100 TB posture — see
    * Curation.packSequences). */
  val q62 = GraftQuery(
    "q62_sequence_pack",
    (spark, sfDir) =>
      Curation.packSequences(Tables.documents(spark, sfDir), "doc_id", "text",
          budgetTokens = 2048L, shardCols = Seq("source"))
        .orderBy(col("source"), col("pack_id")),
    Some("""WITH t AS (SELECT source, doc_id,
        len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]', 0))
          AS n_tokens
      FROM documents),
      p AS (SELECT source, doc_id, n_tokens,
        CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
          / 2048.0) AS BIGINT) AS pack_id
      FROM t)
      SELECT source, pack_id, COUNT(*) AS n_docs,
        CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
        CAST(MIN(doc_id) AS BIGINT) AS first_doc
      FROM p GROUP BY 1, 2 ORDER BY 1, 2"""),
    doc = "token-budget sequence packing (2048/window) sharded by source")

  /** q68 — incremental ingestion dedup: the "new batch" (doc_id >= 250)
    * deduped within itself AND against the already-ingested corpus
    * (doc_id < 250) by content key. The 100 TB append-only move: only
    * distinct 128-bit keys of the existing side shuffle. */
  val q68 = GraftQuery(
    "q68_incremental_dedup",
    (spark, sfDir) => {
      val docs = Tables.documents(spark, sfDir)
      Dedup.incrementalDedup(
          docs.filter(col("doc_id") >= 250),
          docs.filter(col("doc_id") < 250), "text", "doc_id")
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
        .limit(2000)
    },
    Some("""WITH incoming AS (
        SELECT doc_id, lang, source, text FROM (
          SELECT doc_id, lang, source, text, ROW_NUMBER() OVER (
            PARTITION BY md5(lower(trim(text))) ORDER BY doc_id) AS rn
          FROM documents WHERE doc_id >= 250) WHERE rn = 1)
      SELECT doc_id, lang, source FROM incoming i
      WHERE NOT EXISTS (SELECT 1 FROM documents d
        WHERE d.doc_id < 250
          AND md5(lower(trim(d.text))) = md5(lower(trim(i.text))))
      ORDER BY doc_id LIMIT 2000"""),
    doc = "batch-vs-corpus anti-join dedup on 128-bit content keys (ingestion path)")

  /** q65 — curriculum bucketing: per-language quality quartiles (the
    * "order by difficulty, split into tiers" prep move). NOT an ntile
    * window: language is a LOW-cardinality skewed key (English ≈ most of a
    * crawl), so `ntile over (partition by lang)` funnels nearly the whole
    * corpus through one task's sort. [[Curation.groupNtile]] computes the
    * identical answer (ties by doc_id) from a (lang, quality) histogram +
    * closed-form tile-of-rank; only tie classes straddling a quartile
    * boundary ever sort. The order key is the quality QUANTIZED to 3 dp:
    * a raw continuous double would degrade the histogram bound to ~corpus
    * rows (groupNtile's documented contract), while 3 dp caps it at
    * ~10^3·langs cells and moves tier boundaries at most a rounding ulp.
    * The DuckDB oracle keeps the NTILE formulation over the same quantized
    * key — same answer, so the rewrite is value-verified, not plan-shaped. */
  val q65 = GraftQuery(
    "q65_quality_tiers",
    (spark, sfDir) => {
      val scored = TextAnalysis
        .qualityScore(Tables.documents(spark, sfDir), "text")
        .select(col("doc_id"), col("lang"), col("quality"))
        .withColumn("q_bin", round(col("quality"), 3))
      Curation.groupNtile(scored, "lang", "q_bin", "doc_id", 4)
        .groupBy(col("lang"), col("tier"))
        .agg(lcount().as("n_docs"),
          min(col("quality")).as("q_min"), max(col("quality")).as("q_max"))
        .orderBy(col("lang"), col("tier"))
    },
    Some({
      val allMarkers = TextAnalysis.markers.values.flatten.toSeq.distinct
        .sorted.mkString("['", "','", "']")
      s"""WITH base AS (
        SELECT doc_id, lang, text,
          string_split_regex(lower(trim(text)), '\\s+') AS ws
        FROM documents),
      scored AS (
        SELECT doc_id, lang,
          ROUND(0.5 * (CASE WHEN len(ws) BETWEEN 20 AND 2000 THEN 1.0
                 WHEN len(ws) BETWEEN 5 AND 5000 THEN 0.5 ELSE 0.0 END)
            + 0.3 * least(CAST(len(list_filter(ws, w -> list_contains(
                $allMarkers, w))) AS DOUBLE) / len(ws) * 5.0, 1.0)
            + 0.2 * (1.0 - least(CAST(length(text) - length(
                regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
                / length(text) * 10.0, 1.0)), 6) AS quality
        FROM base),
      tiered AS (
        SELECT lang, quality, CAST(NTILE(4) OVER (
          PARTITION BY lang ORDER BY ROUND(quality, 3), doc_id) AS BIGINT) AS tier
        FROM scored)
      SELECT lang, tier, COUNT(*) AS n_docs,
        MIN(quality) AS q_min, MAX(quality) AS q_max
      FROM tiered GROUP BY 1, 2 ORDER BY 1, 2"""
    }),
    doc = "per-language quality quartiles via histogram order statistics " +
      "over a 3dp-quantized key (bounded histogram, no low-cardinality " +
      "ntile window; DuckDB NTILE oracle verifies values)")

  /** q63 — data-mixture sampling: per-source target rates (upsample some
    * sources, downsample the rest) via the same deterministic md5 buckets
    * as q60, emitted as a per-source census. */
  val q63 = {
    val weights = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25)
    GraftQuery(
      "q63_data_mixture",
      (spark, sfDir) =>
        Curation.mixtureSample(Tables.documents(spark, sfDir),
            col("doc_id"), col("source"), weights, defaultFraction = 0.1)
          .groupBy(col("source"))
          .agg(lcount().as("n_kept"))
          .orderBy(col("source")),
      Some(s"""SELECT source, COUNT(*) AS n_kept FROM documents
        WHERE ${Curation.sqlMixturePredicate("doc_id", "source", weights, 0.1)}
        GROUP BY 1 ORDER BY 1"""),
      doc = "mixture weights: src0@100%, src1@50%, src2@25%, rest@10%, deterministic buckets")
  }

  /** q64 — benchmark decontamination: distinct 13-gram overlap of every
    * corpus doc (doc_id >= 25) against a benchmark slice (doc_id < 25),
    * benchmark side broadcast. Per-doc counts verify the zeros too. */
  val q64 = GraftQuery(
    "q64_decontamination",
    (spark, sfDir) => {
      val docs = Tables.documents(spark, sfDir)
      Curation.contamination(
          docs.filter(col("doc_id") >= 25),
          docs.filter(col("doc_id") < 25), "text", "doc_id", n = 13)
        .orderBy(col("doc_id"))
        .limit(2000)
    },
    Some("""WITH t AS (SELECT doc_id,
        string_split_regex(lower(trim(text)), '\s+') AS ws FROM documents),
      ng AS (SELECT doc_id, unnest(list_distinct(
          CASE WHEN len(ws) < 13 THEN [array_to_string(ws, ' ')]
          ELSE list_transform(generate_series(1, len(ws) - 12),
            i -> array_to_string(ws[i:i+12], ' ')) END)) AS ng
        FROM t),
      b AS (SELECT DISTINCT ng FROM ng WHERE doc_id < 25)
      SELECT ng.doc_id, CAST(COUNT(*) AS BIGINT) AS n_ngrams,
        CAST(COUNT(b.ng) AS BIGINT) AS n_contaminated,
        ROUND(CAST(COUNT(b.ng) AS DOUBLE) / COUNT(*), 6) AS contamination
      FROM ng LEFT JOIN b USING (ng) WHERE ng.doc_id >= 25
      GROUP BY 1 ORDER BY 1 LIMIT 2000"""),
    doc = "13-gram eval-leakage check; benchmark n-gram set broadcast, corpus shuffle-free")

  /** q75 — the FULL MinHash+LSH pipeline (shingle → signature → banding →
    * capped buckets → pair expansion → exact-Jaccard verify), ORACLE-checked
    * by running it at jaccardThreshold = 1.0 over a corpus with planted
    * exact duplicates. At J = 1.0 the approximation is exact BY CONSTRUCTION:
    * identical shingle sets give identical signatures, hence collide in
    * every band (candidate recall 1), and the verify stage keeps only
    * J = 1 — so the output is precisely the identical-shingle-set pairs,
    * which DuckDB derives independently by grouping on the sorted distinct
    * shingle list. x42 still measures the J >= 0.3 approximate regime; this
    * query pins the machinery's values. */
  val q75 = GraftQuery(
    "q75_minhash_exact_pairs",
    (spark, sfDir) => {
      val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
      val corpus = docs.unionByName(
        docs.filter(col("doc_id") % 25 === 0)
          .select((col("doc_id") + 100000).as("doc_id"), col("text")))
      Dedup.minHashNearDups(corpus, "text", "doc_id", jaccardThreshold = 1.0)
        .orderBy(col("id_a"), col("id_b"))
    },
    Some("""WITH corpus AS (SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000 AS doc_id, text FROM documents
        WHERE doc_id % 25 = 0),
      tok AS (SELECT doc_id,
          string_split_regex(lower(trim(text)), '\s+') AS t FROM corpus),
      sh AS (SELECT doc_id, CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
          ELSE list_transform(range(1, len(t) - 1),
            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END AS s
        FROM tok),
      k AS (SELECT doc_id,
          md5(array_to_string(list_sort(list_distinct(s)), chr(31))) AS k
        FROM sh)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        CAST(1.0 AS DOUBLE) AS jaccard
      FROM k a JOIN k b ON a.k = b.k AND a.doc_id < b.doc_id
      ORDER BY id_a, id_b"""),
    doc = "MinHash+LSH pipeline at J=1.0 == identical-shingle-set pairs (planted dups)")

  /** q76 — distributed connected components, ORACLE-checked over a
    * deterministic chain graph: edges (d, d−7) within blocks of 50 doc_ids
    * give chains of length ~7, so the pointer-doubling min-label propagation
    * must do real multi-round work (⌈log₂ 7⌉+ rounds); DuckDB recomputes the
    * components independently with a recursive CTE walking the down-edges.
    * x46 still runs CC over the organic MinHash pair graph; this query pins
    * the label VALUES on a graph whose answer is engine-independent. */
  val q76 = GraftQuery(
    "q76_cc_chain_oracle",
    (spark, sfDir) => {
      val ids = Tables.documents(spark, sfDir).select(col("doc_id"))
      val edges = ids.select(col("doc_id").as("id_a"))
        .filter(col("id_a") % 50 >= 7)
        .join(ids.select(col("doc_id").as("id_b")),
          col("id_b") === col("id_a") - 7)
      Dedup.connectedComponents(edges)
        .select(col("id"), col("comp").as("component"))
        .orderBy(col("id"))
    },
    Some("""WITH RECURSIVE edges AS (
        SELECT a.doc_id AS src, b.doc_id AS dst
        FROM documents a JOIN documents b ON b.doc_id = a.doc_id - 7
        WHERE a.doc_id % 50 >= 7),
      nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
      walk(id, cur) AS (
        SELECT id, id FROM nodes
        UNION ALL
        SELECT w.id, e.dst FROM walk w JOIN edges e ON e.src = w.cur)
      SELECT id, MIN(cur) AS component FROM walk GROUP BY id ORDER BY id"""),
    doc = "pointer-doubling CC over chain graph == recursive-CTE closure (value-level)")

  /** q78 — embedding near-dup (X2e) pipeline ORACLE-checked in its exact
    * regime: planted duplicate vectors, threshold 0.999999. Identical
    * vectors provably co-bucket (same input → same sign-LSH hash), so the
    * blocked pipeline's output equals the ALL-PAIRS answer DuckDB computes
    * by brute force (verified: zero natural pairs reach cos 0.999 in the
    * testdata, so nothing depends on a near-identical pair co-bucketing).
    * The cosine predicate replays bit-for-bit — same double accumulation
    * order as q44's proven twin. x45 still measures the 0.8-threshold
    * approximate regime. */
  val q78 = GraftQuery(
    "q78_embedding_exact_pairs",
    (spark, sfDir) => {
      val emb = Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding"))
      val corpus = emb.unionByName(
        emb.filter(col("vec_id") % 25 === 0)
          .select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
      Similarity.embeddingNearDups(corpus, threshold = 0.999999, bits = 8)
        .orderBy(col("id_a"), col("id_b"))
    },
    Some("""WITH corpus AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
        UNION ALL
        SELECT vec_id + 100000 AS vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings WHERE vec_id % 25 = 0),
      pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          list_dot_product(a.e, b.e) AS dot,
          sqrt(list_dot_product(a.e, a.e))
            * sqrt(list_dot_product(b.e, b.e)) AS nrm
        FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id)
      SELECT id_a, id_b,
        ROUND(CASE WHEN nrm = 0 THEN 0.0 ELSE dot / nrm END, 6) AS cosine
      FROM pairs
      WHERE (CASE WHEN nrm = 0 THEN 0.0 ELSE dot / nrm END) >= 0.999999
      ORDER BY id_a, id_b"""),
    doc = "LSH-blocked embedding near-dup at exact threshold == all-pairs brute force")

  /** q81 — Bloom-prefiltered ingestion dedup: SAME answer as q68 (the
    * bloom layer is performance-only — no false negatives, false positives
    * re-verified by the exact anti-join), so the oracle is q68's SQL
    * verbatim. What it buys at 100 TB: definitely-new rows skip the
    * anti-join shuffle entirely; only ~|dupes| + fpp·|batch| rows probe
    * the exact key set. */
  val q81 = GraftQuery(
    "q81_bloom_incremental_dedup",
    (spark, sfDir) => {
      val docs = Tables.documents(spark, sfDir)
      Dedup.bloomPrefilterDedup(
          docs.filter(col("doc_id") >= 250),
          docs.filter(col("doc_id") < 250), "text", "doc_id")
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
        .limit(2000)
    },
    Some("""WITH incoming AS (
        SELECT doc_id, lang, source, text FROM (
          SELECT doc_id, lang, source, text, ROW_NUMBER() OVER (
            PARTITION BY md5(lower(trim(text))) ORDER BY doc_id) AS rn
          FROM documents WHERE doc_id >= 250) WHERE rn = 1)
      SELECT doc_id, lang, source FROM incoming i
      WHERE NOT EXISTS (SELECT 1 FROM documents d
        WHERE d.doc_id < 250
          AND md5(lower(trim(d.text))) = md5(lower(trim(i.text))))
      ORDER BY doc_id LIMIT 2000"""),
    doc = "bloom-prefiltered ingestion dedup == exact anti-join dedup (q68 oracle)")

  /** q82 — cross-document repeated chunks over a corpus with planted
    * whole-document duplicates (plus whatever chunks repeat organically);
    * DuckDB recomputes the chunk keys and spreads independently. */
  val q82 = GraftQuery(
    "q82_repeated_chunks",
    (spark, sfDir) => {
      val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
      val corpus = docs.unionByName(
        docs.filter(col("doc_id") % 25 === 0)
          .select((col("doc_id") + 100000).as("doc_id"), col("text")))
      Dedup.repeatedChunks(corpus, "text", "doc_id", windowTokens = 20)
        .orderBy(col("chunk_key"))
        .limit(2000)
    },
    Some("""WITH corpus AS (SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000 AS doc_id, text FROM documents
        WHERE doc_id % 25 = 0),
      t AS (SELECT doc_id,
          string_split_regex(lower(trim(text)), '\s+') AS tok FROM corpus),
      chunks AS (SELECT doc_id,
          md5(array_to_string(list_slice(tok, i*20+1, i*20+20), ' ')) AS chunk_key
        FROM t, UNNEST(generate_series(0,
          CAST(ceil(CAST(len(tok) AS DOUBLE)/20) AS INT) - 1)) AS u(i)
        WHERE len(list_slice(tok, i*20+1, i*20+20)) > 0)
      SELECT chunk_key, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
        CAST(COUNT(*) AS BIGINT) AS n_occurrences,
        CAST(MIN(doc_id) AS BIGINT) AS min_doc_id
      FROM chunks GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2
      ORDER BY chunk_key LIMIT 2000"""),
    doc = "chunk-granular exact substring dedup signal (20-token windows, md5 keys)")

  /** q83 — per-domain frequency cap at 30 docs/source: survivors are the
    * 30 smallest (md5(doc_id), doc_id) per source, so the oracle is a
    * plain rank-window in DuckDB while the Spark side proves the
    * aggregator formulation (partial-agg min-k + broadcast semi-join — a
    * window over the low-cardinality source key would be the q65-style
    * scale killer). */
  val q83 = GraftQuery(
    "q83_domain_cap",
    (spark, sfDir) =>
      Curation.domainCap(Tables.documents(spark, sfDir),
          "doc_id", "source", cap = 30)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id")),
    Some("""SELECT doc_id, source FROM (
        SELECT doc_id, source, ROW_NUMBER() OVER (
          PARTITION BY source
          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        FROM documents) WHERE rn <= 30 ORDER BY doc_id"""),
    doc = "per-domain cap: deterministic 30-doc unbiased sample per source " +
      "via partial-agg min-k (no hot-key window)")

  /** q88 — the END-TO-END curation pipeline a 100 TB user actually runs,
    * composed from the individually-verified operators: JSONL exchange
    * read with corrupt-line quarantine (q86's source) → Bloom-prefiltered
    * ingestion dedup against the already-ingested corpus (q81) →
    * SemDeDup-style semantic dedup over the survivors' embeddings (q85) →
    * per-language quality quartiles (q65's groupNtile) → token-budget
    * sequence packing at per-doc grain (q62's packAssignments) → atomic
    * snapshot publish and read-back (q74's store). What this pins beyond
    * the pieces: the schema handoffs between stages, quarantine routing,
    * and that the published snapshot IS the curated per-doc result.
    *
    * Planted inputs make every stage observable: exact-dup copies
    * (+100000, identical text — must die in ingestion dedup), semantic-dup
    * copies (+200000, text perturbed so exact dedup keeps them, embedding
    * identical so semantic dedup kills copy or original's absence promotes
    * them), already-ingested overlap (doc_id < 50 — must anti-join away),
    * and three corrupt JSONL lines (must surface as quarantine rows, not
    * vanish). DuckDB replays the full composition over the parquet
    * originals. */
  val q88 = GraftQuery(
    "q88_curate_e2e",
    (spark, sfDir) => {
      import graft.engine.sources.{Jsonl, SnapshotStore}
      val docs = Tables.documents(spark, sfDir)
      val emb = Tables.embeddings(spark, sfDir)
      // pid-suffixed work root, wiped up front (q74's discipline: the
      // snapshot store never overwrites, so repeated runs in one process
      // would accumulate versions and break the read-back pin)
      val root = Artifacts.scratch("q88_curate")
      val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
      val plantedExact = docs.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("text"),
          col("lang"), col("source"), col("n_chars"))
      val plantedSem = docs.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 200000).as("doc_id"),
          concat(col("text"), lit(" extra")).as("text"),
          col("lang"), col("source"), col("n_chars"))
      val corpus = docs.select(cols.map(col): _*)
        .unionByName(plantedExact).unionByName(plantedSem)
      // Six driver-sequenced stages over a harness-scale corpus are
      // fixed-cost-bound, not data-bound: run them at 8 shuffle partitions
      // (x56's documented, result-neutral dial — every stage's answer is
      // partitioning-invariant) and restore after. Production sizes
      // partitions to data; the stage SHAPES are what carry to 100 TB.
      val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      try {
      // 1. JSONL exchange with three planted corrupt lines. coalesce(8):
      // the union-of-filters corpus arrives in ~33 scan partitions; a 5k-doc
      // exchange in 33 shards is pure task overhead (narrow coalesce, no
      // shuffle — production sizes shards to bytes, not scan partitioning)
      Jsonl.writeJsonl(corpus.coalesce(8), s"$root/in")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$root/in/planted_bad_lines.txt"),
        java.util.Arrays.asList("{ this is not valid json", "null", ""),
        java.nio.charset.StandardCharsets.UTF_8)
      val (clean, bad) = Jsonl.readJsonlClean(spark, s"$root/in",
        docs.select(cols.map(col): _*).schema)
      // 2. Bloom-prefiltered ingestion dedup vs the already-ingested corpus
      val exactSurv = Dedup.bloomPrefilterDedup(clean,
        docs.filter(col("doc_id") < 50), "text", "doc_id")
      // 3. semantic dedup over survivor embeddings (planted copies carry
      // their source's vector). localCheckpoint: semanticDedup's pair and
      // anti-join stages both scan the corpus, and the JSONL-parse + dedup
      // pipeline upstream must not run once per scan.
      val embAll = emb.select(col("vec_id"), col("embedding"))
        .unionByName(emb.filter(col("vec_id") % 50 === 0)
          .select((col("vec_id") + 200000).as("vec_id"), col("embedding")))
      val withVec = exactSurv
        .join(embAll, col("doc_id") === col("vec_id")).localCheckpoint()
      val semSurv = Similarity.semanticDedup(withVec, threshold = 0.999999)
        .drop("vec_id", "embedding").localCheckpoint()
      // 4+5. per-language quality quartiles (3 dp-quantized key, q65
      // contract) + per-doc pack assignment (2048-token budget, sharded by
      // source). Default path FUSES the two stages (Curation.tieredPack):
      // one scan, no corpus-sized doc_id re-union join — the composed
      // two-branch form stays available under the flag for stage-by-stage
      // debugging; CuratePipelineSpec pins both paths row-identical.
      val scored = TextAnalysis.qualityScore(semSurv, "text")
        .withColumn("q_bin", round(col("quality"), 3))
      val fused = spark.conf.getOption("spark.graft.curate.fusedTiersPack")
        .forall(_.toBoolean)
      val curated = (if (fused) {
        Curation.tieredPack(scored, "lang", "q_bin", "doc_id", "text",
          numTiles = 4, budgetTokens = 2048L, shardCols = Seq("source"))
      } else {
        val tiers = Curation.groupNtile(scored, "lang", "q_bin", "doc_id", 4)
          .select(col("doc_id"), col("tier"))
        Curation.packAssignments(semSurv, "doc_id", "text",
          budgetTokens = 2048L, shardCols = Seq("source"))
          .join(tiers, Seq("doc_id"))
      }).select(col("doc_id"), col("lang"), col("source"), col("tier"),
          col("pack_id"), col("n_tokens"),
          md5(col("text").cast("binary")).as("text_md5"))
      // 6. atomic snapshot publish; the OUTPUT is the read-back (pins that
      // the published version is the curated result, not the in-memory df)
      SnapshotStore.publish(curated, s"$root/snap")
      SnapshotStore.read(spark, s"$root/snap")
        // 7. quarantined lines surface as planted rows, never vanish
        .unionByName(bad.select(
          when(col("raw") === "{ this is not valid json", -3L)
            .when(col("raw") === "null", -2L).otherwise(-1L).as("doc_id"),
          lit("quarantine").as("lang"), lit("quarantine").as("source"),
          lit(-1L).as("tier"), lit(-1L).as("pack_id"), lit(-1L).as("n_tokens"),
          md5(col("raw").cast("binary")).as("text_md5")))
        .orderBy(col("doc_id"))
        // the final sort + union run after the restore, but the heavy
        // stages are all materialized by the publish above; collect-side
        // partitioning of a 5k-row sorted result is noise either way
      } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    },
    Some({
      val allMarkers = TextAnalysis.markers.values.flatten.toSeq.distinct
        .sorted.mkString("['", "','", "']")
      s"""WITH corpus0 AS (
        SELECT doc_id, text, lang, source FROM documents
        UNION ALL SELECT doc_id + 100000, text, lang, source
          FROM documents WHERE doc_id % 25 = 0
        UNION ALL SELECT doc_id + 200000, text || ' extra', lang, source
          FROM documents WHERE doc_id % 50 = 0),
      exact1 AS (SELECT doc_id, text, lang, source, ROW_NUMBER() OVER (
          PARTITION BY md5(lower(trim(text))) ORDER BY doc_id) AS rn
        FROM corpus0),
      exact_surv AS (SELECT doc_id, text, lang, source FROM exact1 e
        WHERE rn = 1 AND NOT EXISTS (SELECT 1 FROM documents d
          WHERE d.doc_id < 50
            AND md5(lower(trim(d.text))) = md5(lower(trim(e.text))))),
      emb_all AS (SELECT vec_id, embedding FROM embeddings
        UNION ALL SELECT vec_id + 200000, embedding FROM embeddings
          WHERE vec_id % 50 = 0),
      sem AS (SELECT s.doc_id, s.text, s.lang, s.source,
          md5(array_to_string(e.embedding, ',')) AS ek
        FROM exact_surv s JOIN emb_all e ON s.doc_id = e.vec_id),
      sem_surv AS (SELECT doc_id, text, lang, source FROM (
          SELECT *, MIN(doc_id) OVER (PARTITION BY ek) AS mm FROM sem)
        WHERE doc_id = mm),
      base AS (SELECT doc_id, lang, source, text,
          string_split_regex(lower(trim(text)), '\\s+') AS ws FROM sem_surv),
      scored AS (SELECT doc_id, lang,
          ROUND(0.5 * (CASE WHEN len(ws) BETWEEN 20 AND 2000 THEN 1.0
                 WHEN len(ws) BETWEEN 5 AND 5000 THEN 0.5 ELSE 0.0 END)
            + 0.3 * least(CAST(len(list_filter(ws, w -> list_contains(
                $allMarkers, w))) AS DOUBLE) / len(ws) * 5.0, 1.0)
            + 0.2 * (1.0 - least(CAST(length(text) - length(
                regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
                / length(text) * 10.0, 1.0)), 6) AS quality
        FROM base),
      tiered AS (SELECT doc_id, CAST(NTILE(4) OVER (PARTITION BY lang
          ORDER BY ROUND(quality, 3), doc_id) AS BIGINT) AS tier
        FROM scored),
      tok AS (SELECT doc_id, lang, source, text,
          CAST(len(regexp_extract_all(lower(text),
            '[a-z]+|[0-9]+|[^a-z0-9\\s]', 0)) AS BIGINT) AS n_tokens
        FROM sem_surv),
      packed AS (SELECT doc_id, lang, source, text, n_tokens,
          CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
            / 2048.0) AS BIGINT) AS pack_id
        FROM tok)
      SELECT p.doc_id, p.lang, p.source, t.tier, p.pack_id, p.n_tokens,
        md5(p.text) AS text_md5
      FROM packed p JOIN tiered t ON p.doc_id = t.doc_id
      UNION ALL SELECT * FROM (VALUES
        (CAST(-3 AS BIGINT), 'quarantine', 'quarantine', CAST(-1 AS BIGINT),
          CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), md5('{ this is not valid json')),
        (CAST(-2 AS BIGINT), 'quarantine', 'quarantine', CAST(-1 AS BIGINT),
          CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), md5('null')),
        (CAST(-1 AS BIGINT), 'quarantine', 'quarantine', CAST(-1 AS BIGINT),
          CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), md5('')))
      ORDER BY doc_id"""
    }),
    doc = "end-to-end curation: JSONL quarantine read -> Bloom ingestion " +
      "dedup -> semantic dedup -> quality tiers -> sequence pack -> " +
      "snapshot publish/read-back, per-doc DuckDB twin")

  /** q90 — temperature-flattened mixture resampling (α = 1/2): per-source
    * keep rates derived FROM the corpus census (r_s = round(min(1,
    * c/√n_s), 4)), membership by the same md5 bucket as q60. The oracle
    * recomputes the census, the rates, the 16-bit hex threshold
    * (printf('%04x', round(r·65536))), and the membership predicate —
    * end-to-end engine replay of a data-dependent sampling policy, which
    * is exactly why α is pinned to the correctly-rounded sqrt. */
  val q90 = GraftQuery(
    "q90_temperature_sample",
    (spark, sfDir) => {
      val docs = Tables.documents(spark, sfDir)
      Curation.temperatureSample(docs, col("doc_id"), col("source"), c = 3.0)
        .select(col("doc_id"), col("source"),
          substring(md5(col("doc_id").cast("string").cast("binary")), 1, 4)
            .as("bucket"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH census AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY 1),
      rates AS (SELECT source,
          ROUND(LEAST(1.0, 3.0 / sqrt(CAST(n AS DOUBLE))), 4) AS r
        FROM census),
      th AS (SELECT source,
          CASE WHEN CAST(ROUND(r * 65536) AS BIGINT) >= 65536 THEN 'g'
            ELSE printf('%04x', CAST(ROUND(r * 65536) AS BIGINT)) END AS thr
        FROM rates)
      SELECT d.doc_id, d.source,
        substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) AS bucket
      FROM documents d JOIN th ON d.source = th.source
      WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < th.thr
      ORDER BY d.doc_id"""),
    doc = "temperature (alpha=1/2) source resampling; census, rates, hex " +
      "threshold and membership all engine-replayed")

  /** q91 — INCREMENTAL near-dup against a published signature store: the
    * historical corpus (doc_id < 250) is signed ONCE and its signature
    * table published via SnapshotStore; the incoming batch (doc_id >= 250
    * plus planted copies of historical docs) bands against the READ-BACK
    * signatures — no re-scan, no re-signing of history, the steady-state
    * 100 TB ingest shape (near-dup sibling of q81's Bloom dedup).
    *
    * Exact-regime pin (x43's pattern): a planted copy has identical text
    * ⇒ identical signature ⇒ est_jaccard exactly 1.0 and guaranteed band
    * collision, so the est=1.0 pairs verified by content-key equality must
    * EQUAL DuckDB's cross-side identical-content join; honest recall
    * pinned 1.0, existing-side cap telemetry pinned TRUE. The approximate
    * threshold regime still generates the candidates. */
  val q91 = GraftQuery(
    "q91_incremental_neardup",
    (spark, sfDir) => {
      import graft.engine.sources.SnapshotStore
      val docs = Tables.documents(spark, sfDir)
      val root = Artifacts.scratch("q91_sigs") + "/sigs"
      val existing = docs.filter(col("doc_id") < 250)
      SnapshotStore.publish(
        Dedup.minHashSignatures(existing, "text", "doc_id"), root)
      val exSigs = SnapshotStore.read(spark, root)
      val incoming = docs.filter(col("doc_id") >= 250)
        .select(col("doc_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") % 25 === 0 && col("doc_id") < 250)
          .select((col("doc_id") + 100000).as("doc_id"), col("text")))
      val inSigs = Dedup.minHashSignatures(incoming, "text", "doc_id")
      val cap = 1000
      val pairs = Dedup.incrementalMinHashNearDups(inSigs, exSigs,
        threshold = 1.0, maxBucketSize = cap)
      // exact-regime verify: content-key equality across the two sides
      val ki = incoming.select(col("doc_id").as("id_in"),
        Dedup.contentKey(col("text")).as("ck_in"))
      val ke = existing.select(col("doc_id").as("id_ex"),
        Dedup.contentKey(col("text")).as("ck_ex"))
      val exactPairs = pairs.filter(col("est_jaccard") === 1.0)
        .join(ki, Seq("id_in")).join(ke, Seq("id_ex"))
        .filter(col("ck_in") === col("ck_ex"))
        .select(col("id_in"), col("id_ex"), col("est_jaccard"))
        .localCheckpoint() // feeds a count AND the total ORDER BY
      val nExpected = ki.join(ke, col("ck_in") === col("ck_ex")).count()
      val nFound = exactPairs.count()
      val recall = if (nExpected == 0) 1.0 else nFound.toDouble / nExpected
      val nCapped = Dedup.incrementalCapOverflow(exSigs, maxBucketSize = cap)
        .head().getLong(0)
      exactPairs
        .withColumn("exact_recall", lit(recall))
        .withColumn("zero_capped_buckets", lit(nCapped == 0L))
        .orderBy(col("id_in"), col("id_ex"))
    },
    Some("""WITH ex AS (SELECT doc_id, md5(lower(trim(text))) AS ck
        FROM documents WHERE doc_id < 250),
      inc AS (SELECT doc_id, md5(lower(trim(text))) AS ck
        FROM documents WHERE doc_id >= 250
        UNION ALL SELECT doc_id + 100000, md5(lower(trim(text)))
        FROM documents WHERE doc_id % 25 = 0 AND doc_id < 250)
      SELECT i.doc_id AS id_in, e.doc_id AS id_ex,
        CAST(1.0 AS DOUBLE) AS est_jaccard,
        CAST(1.0 AS DOUBLE) AS exact_recall, TRUE AS zero_capped_buckets
      FROM inc i JOIN ex e ON i.ck = e.ck
      ORDER BY id_in, id_ex"""),
    doc = "incremental near-dup vs published signature snapshot; exact " +
      "regime: planted copies == est-1.0 cross-side pairs, recall pinned 1.0")

  /** x49 — IVF on a PLANTED-CLUSTER corpus: the above-the-diagonal
    * contract x47 cannot make. x47's isotropic corpus is the
    * information-theoretic worst case for space partitioning (recall ≈
    * scanned fraction — the diagonal), so its shipped floor is "no worse
    * than random scanning": honest there, but vacuous as a deployment
    * guarantee. Real embedding corpora are clustered, and BASELINE.md's
    * deployment guidance rests on IVF landing far ABOVE the diagonal on
    * such data. This row pins that claim on the deterministic seeded
    * fixture ([[graft.tools.ClusteredVectors]] — bit-identical corpus on
    * any partitioning/parallelism, so the booleans are reproducible
    * anywhere): IVF at a 12.5% expected scan (nprobe/nlist = 4/32) must
    * reach ≥ 4× the diagonal (recall ≥ 0.5; measures 1.00 on this
    * fixture — the SimilaritySpec clustered gate promoted to the oracle
    * registry, VERDICT r10 item 3). Contract-boolean oracle (q106
    * pattern): the fixture's cardinalities are pinned constants the twin
    * recomputes trivially, and a recall collapse (centroid-training
    * drift, probe mis-assignment, candidate loss between stages) flips
    * the hash. The corpus is generated in-query — sfDir is deliberately
    * unused; scale sensitivity for IVF is x47's job, cluster-structure
    * sensitivity is this row's. */
  val x49 = GraftQuery(
    "x49_ann_ivf_clustered",
    (spark, sfDir) => {
      val emb = graft.tools.ClusteredVectors.generate(spark, n = 1000L,
          k = 10, sigma = 0.2, seed = 42L)
        .select(col("vec_id"), col("embedding")).persist()
      try {
        val queries = emb.filter(col("vec_id") < 10)
        // exact census and IVF probe are independent reads of the
        // persisted corpus
        val (exact, ivf) = Par.overlap(spark) { s =>
          val exactF = s.fork(
            Similarity.bruteForceTopKAgg(emb, queries, 5)
              .select(col("qid"), col("nid")).collect()
              .map(r => (r.getLong(0), r.getLong(1))).toSet)
          val ivf = Similarity.ivfTopK(emb, queries, 5, nlist = 32,
              nprobe = 4)
            .select(col("qid"), col("nid")).collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet
          (exactF.join(), ivf)
        }
        val recall = exact.intersect(ivf).size.toDouble /
          math.max(exact.size, 1)
        import spark.implicits._
        Seq((1000L, exact.size.toLong, recall >= 0.5))
          .toDF("n_corpus", "n_exact", "ivf_4x_diagonal_ok")
      } finally emb.unpersist()
    },
    Some("""SELECT CAST(1000 AS BIGINT) AS n_corpus,
        CAST(50 AS BIGINT) AS n_exact, TRUE AS ivf_4x_diagonal_ok"""),
    doc = "IVF on the seeded planted-cluster corpus; contract oracle: " +
      "recall >= 4x the scan-fraction diagonal (0.5 at 12.5% scan) — " +
      "the above-the-diagonal guarantee isotropic x47 cannot make")

  /** x50 — IVF-PQ on the PLANTED-CLUSTER corpus (x49's sibling for the
    * PRODUCTION composition, VERDICT r11 item 4): `ivfPqTopK` — coarse
    * cells AND 16-byte PQ codes, the Faiss IVFPQ shape q111/x62 publish —
    * probed at the published re-rank operating point (m=16, k=32,
    * re-rank@100) with nprobe/nlist = 4/32, must hold recall >= 4× the
    * 12.5% scan-fraction diagonal on the seeded clustered fixture
    * (measures 1.00). x49 pins the coarse quantizer alone; this row pins
    * that STACKING the product quantizer's 16× compression on top — ADC
    * candidate selection inside the probed cells, then the bounded exact
    * re-rank — does not surrender the clustered-corpus advantage.
    * Contract-boolean oracle (q106 pattern); corpus generated in-query,
    * sfDir deliberately unused (scale sensitivity is x47/x48's job). */
  val x50 = GraftQuery(
    "x50_ann_ivfpq_clustered",
    (spark, sfDir) => {
      val emb = graft.tools.ClusteredVectors.generate(spark, n = 1000L,
          k = 10, sigma = 0.2, seed = 42L)
        .select(col("vec_id"), col("embedding")).persist()
      try {
        val queries = emb.filter(col("vec_id") < 10)
        // the exact census and the two trainings are three independent
        // reads of the persisted corpus; only the probe depends on
        // cents+books
        val (exact, ivfpq) = Par.overlap(spark) { s =>
          val exactF = s.fork(
            Similarity.bruteForceTopKAgg(emb, queries, 5)
              .select(col("qid"), col("nid")).collect()
              .map(r => (r.getLong(0), r.getLong(1))).toSet)
          val centsF = s.fork(Similarity.ivfCentroids(emb, nlist = 32))
          val books = Similarity.pqTrain(emb, m = 16, k = 32, iters = 2)
          val ivfpq = Similarity.ivfPqTopK(emb, queries, 5, centsF.join(),
              books, nprobe = 4, rerank = 100)
            .select(col("qid"), col("nid")).collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet
          (exactF.join(), ivfpq)
        }
        val recall = exact.intersect(ivfpq).size.toDouble /
          math.max(exact.size, 1)
        import spark.implicits._
        Seq((1000L, exact.size.toLong, recall >= 0.5))
          .toDF("n_corpus", "n_exact", "ivfpq_4x_diagonal_ok")
      } finally emb.unpersist()
    },
    Some("""SELECT CAST(1000 AS BIGINT) AS n_corpus,
        CAST(50 AS BIGINT) AS n_exact, TRUE AS ivfpq_4x_diagonal_ok"""),
    doc = "IVF-PQ (the production composition: coarse cells + 16-byte " +
      "codes + re-rank@100) on the seeded planted-cluster corpus; " +
      "contract oracle: recall >= 4x the 12.5%-scan diagonal")

  /** q138 — RESUMABLE training export: the incremental leg of X7
    * (VERDICT r15 item 8). q133's export is one-shot; a production
    * trainer wants "export only what changed since the last export".
    * The composition: the corpus lives in a versioned store; the export
    * consumer's CURSOR ([[graft.engine.sources.SnapshotStore
    * .consumedThrough]], consumer = "export") names the corpus version
    * already exported; after an append-only corpus delta, `readSince`
    * delivers ONLY the new docs (manifest-diff — O(delta) whatever the
    * corpus size), which shard by the SAME md5 draw as the full export
    * ([[Curation.shuffleShards]]) and APPEND to the shard-bucketed
    * export store: affected shards gain files, every pre-existing export
    * file carries over by hardlink, untouched shards see zero I/O.
    * Pinned: the final export == a full recompute over the complete
    * corpus (the DuckDB twin shards every doc from scratch);
    * `no_rewrite` — every v1 export file is INODE-identical in v2 (the
    * q95 observable: nothing was rewritten); `delta_only` — exactly the
    * delta's rows were added; `n_export_versions` = 2 (one full, one
    * incremental). The tagged append + cursor give the same torn-window
    * coverage as x69's backfill. Repeated deltas fragment hot shards —
    * `compact` (q104) is the standing maintenance contract; a corpus
    * UPSERT (re-crawl, q137) breaks readSince's append-lineage
    * soundness — the consumer then RESYNCS on the row-level diff, the
    * q141 path (removed keys deleteKey out of the export, added rows
    * shard-append, tagged), and resumes readSince from the rewrite. */
  val q138 = GraftQuery(
    "q138_resumable_export",
    (spark, sfDir) => {
      import graft.engine.sources.SnapshotStore
      val base = Artifacts.scratch("q138_resume")
      val corpusRoot = s"$base/corpus"
      val exportRoot = s"$base/export"
      val docs = Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("n_chars"))
      def sharded(d: org.apache.spark.sql.DataFrame)
          : org.apache.spark.sql.DataFrame =
        Curation.shuffleShards(d, "doc_id", nShards = 8)
          .drop("shuffle_key")
      // crawl 1 (4/5 of the corpus) -> corpus store v1
      SnapshotStore.publishBucketed(
        docs.filter(col("doc_id") % 5 =!= 0), corpusRoot, "doc_id", 8)
      // FULL export v1, then record what it covered via the cursor
      SnapshotStore.publishBucketed(
        sharded(SnapshotStore.read(spark, corpusRoot).drop("_bucket")),
        exportRoot, "shard_id", 8)
      SnapshotStore.setConsumedThrough(corpusRoot, "export",
        SnapshotStore.currentVersion(corpusRoot))
      val v1Count = SnapshotStore.read(spark, exportRoot).count()
      val v1Files = SnapshotStore.versionFileInodes(exportRoot, 1L)
      // crawl 2: the append-only delta lands in the corpus store
      SnapshotStore.append(
        docs.filter(col("doc_id") % 5 === 0), corpusRoot)
      // RESUMABLE export: readSince the cursor -> only the new docs.
      // Recovery first (recoverTaggedFolds): a fold that landed its
      // tagged export but crashed before the cursor advance must not
      // re-export under a fresh tag after a concurrent crawl
      val cursor = SnapshotStore.recoverTaggedFolds(
        corpusRoot, "export", exportRoot, "export-corpus")
      val corpusV2 = SnapshotStore.currentVersion(corpusRoot)
      val nDelta =
        if (cursor >= corpusV2) 0L
        else SnapshotStore.readSince(spark, corpusRoot, cursor,
            corpusV2) match {
          case None => 0L
          case Some(delta) =>
            val rows = sharded(delta.drop("_bucket")).localCheckpoint()
            SnapshotStore.append(rows, exportRoot,
              tag = Some(SnapshotStore.foldTag("export-corpus", "export", corpusV2)))
            SnapshotStore.setConsumedThrough(corpusRoot, "export", corpusV2)
            rows.count()
        }
      val v2Files = SnapshotStore.versionFileInodes(exportRoot,
        SnapshotStore.currentVersion(exportRoot))
      val noRewrite = v1Files.nonEmpty && v1Files.forall {
        case (rel, ino) => v2Files.get(rel).contains(ino) }
      val cur = SnapshotStore.read(spark, exportRoot).localCheckpoint()
      val deltaOnly = nDelta > 0L && cur.count() == v1Count + nDelta
      cur.groupBy(col("shard_id"))
        .agg(count(lit(1)).cast(LongType).as("n_docs"),
          sum(col("n_chars")).cast(LongType).as("shard_chars"))
        .withColumn("no_rewrite", lit(noRewrite))
        .withColumn("delta_only", lit(deltaOnly))
        .withColumn("n_export_versions",
          lit(SnapshotStore.currentVersion(exportRoot)))
        .orderBy(col("shard_id"))
    },
    Some("""WITH sharded AS (SELECT doc_id, n_chars,
          CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
            AS BIGINT) % 8 AS shard_id
        FROM documents)
      SELECT shard_id, COUNT(*) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS shard_chars,
        TRUE AS no_rewrite, TRUE AS delta_only,
        CAST(2 AS BIGINT) AS n_export_versions
      FROM sharded GROUP BY shard_id ORDER BY shard_id"""),
    doc = "resumable training export: consumer cursor + readSince find " +
      "the corpus delta (O(delta)), which appends into the md5-sharded " +
      "export store — zero rewrite of existing shards (inode-pinned), " +
      "final export == full recompute over the complete corpus")

  def queries: Seq[GraftQuery] =
    Seq(q40, q41, q44, q46, q47, q48, q49, q50, q55, q56, q60, q61, q62,
      q63, q64, q65, q68, q69, q70, q71, q72, q73, q75, q76, q78, q81, q82,
      q83, q84, q85, q87, q88, q90, q91, q109, q111, q112, q113, q114,
      q115, q116, q117, q118, q119, q120, q121, q122, q123, q125, q126,
      q127, q128, q129, q130, q131, q132, q133, q134, q135, q138, x42, x43,
      x44, x45, x46,
      x47, x48, x49, x50, x51)
}
