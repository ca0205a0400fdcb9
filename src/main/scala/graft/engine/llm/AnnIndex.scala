package graft.engine.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.engine.sources.SnapshotStore

/** Versioned IVF-PQ index artifacts on [[SnapshotStore]] — the "train
  * once, encode forever" lifecycle of a production ANN deployment
  * (VERDICT r9 gap 7): codebooks are trained on one (sampled) corpus
  * snapshot, PUBLISHED as a versioned table, and every later ingest batch
  * is encoded against the published version — retraining is a deliberate
  * new version, never an implicit side effect of a query, because codes
  * quantized under different codebooks are not comparable and silently
  * mixing them corrupts every ADC score.
  *
  * Layout: one row per centroid — `(kind, sub, cid, vec)` where
  * `kind = 'cent'` rows are the coarse IVF centroids (`sub = -1`) and
  * `kind = 'book'` rows are subspace `sub`'s PQ codebook entries. The
  * whole table is `nlist + m·ksub` rows of `dim`-ish doubles — a few MB
  * at production scale (Faiss-shape: nlist ≤ 2^18, m ≤ 64, ksub = 256) —
  * so driver-side collect on load is bounded by construction, and the
  * doubles round-trip bit-exactly through parquet.
  *
  * The encoded corpus itself lives in a separate BUCKETED store keyed by
  * `cell` ([[SnapshotStore.publishBucketed]] + insert-only
  * [[SnapshotStore.append]] — cell is a PARTITION key, not a row
  * identity, so upsert-by-key merge is the wrong primitive): an ingest
  * batch lands as new files inside its cells' buckets with everything
  * else hardlink-carried, and probes read ONLY their cells' bucket
  * directories ([[probeCodes]]) — the IVF "scan nprobe/nlist of the
  * corpus" promise realized at the STORAGE layer, not just the scan
  * (q111 pins the composed lifecycle; AnnIndexSpec pins restart/version
  * semantics and the pruned-read file set).
  *
  * No counterpart in the reference (its only persistence is MLlib
  * `model.save`, `no_pipeline/Predict.scala` sibling paths); modeled on
  * the public Faiss index-file lifecycle re-expressed as versioned
  * tables.
  */
object AnnIndex {

  /** Serialize trained codebooks to one DataFrame (see layout above). */
  def toDf(spark: SparkSession,
      cents: Array[(Int, Array[Double])],
      books: Seq[Array[(Int, Array[Double])]]): DataFrame = {
    import spark.implicits._
    val centRows = cents.toSeq.map { case (cid, v) => ("cent", -1, cid, v.toSeq) }
    val bookRows = books.zipWithIndex.flatMap { case (book, sub) =>
      book.toSeq.map { case (cid, v) => ("book", sub, cid, v.toSeq) }
    }
    (centRows ++ bookRows).toDF("kind", "sub", "cid", "vec")
  }

  /** Publish trained codebooks as the next version under `root`.
    * Atomic + versioned via [[SnapshotStore.publish]]: readers pinned to
    * a version keep decoding consistently while a retrain publishes.
    * BY-NAME training args (r22): every caller passes
    * `ivfCentroids(...)` and `pqTrain/pqCodebooksExact(...)` inline —
    * two independent trainings over the same corpus that were evaluated
    * sequentially at the call site. Overlapping them here makes the
    * publish cost max(train), not the sum; values and the published
    * table are identical. */
  def publishIndex(spark: SparkSession, root: String,
      centsTrain: => Array[(Int, Array[Double])],
      booksTrain: => Seq[Array[(Int, Array[Double])]]): Long = {
    val (cents, books) = graft.engine.Par.overlap(spark) { s =>
      val centsF = s.fork(centsTrain)
      val books = booksTrain
      (centsF.join(), books)
    }
    require(cents.nonEmpty, "need at least one coarse centroid")
    require(books.nonEmpty && books.forall(_.nonEmpty),
      "every PQ subspace needs a non-empty codebook")
    // one file: the index table is nlist + m·ksub rows (a few MB at
    // Faiss-shape production settings — see object doc), but the
    // driver-local Seq behind toDf parallelizes to defaultParallelism,
    // so an unguarded publish writes 32 near-empty files per index and
    // every loadIndex pays 32 file opens (guide §6 small files)
    SnapshotStore.publish(toDf(spark, cents, books).coalesce(1), root)
  }

  /** Load a published index version (0 = current) back into the driver
    * structures [[Similarity.ivfPqTopK]] consumes. Bounded collect:
    * nlist + m·ksub rows by the publish-side contract. */
  def loadIndex(spark: SparkSession, root: String, version: Long = 0L)
      : (Array[(Int, Array[Double])], Seq[Array[(Int, Array[Double])]]) = {
    val rows = SnapshotStore.read(spark, root, version)
      .select(col("kind"), col("sub"), col("cid"), col("vec"))
      .collect()
    val cents = rows.filter(_.getString(0) == "cent")
      .map(r => r.getInt(2) -> r.getSeq[Double](3).toArray)
      .sortBy(_._1)
    require(cents.nonEmpty, s"no index published under $root")
    // same partial-store hazard as the books below: a lost 'cent' row
    // would silently shift cell assignment away from what history was
    // encoded under — recall collapses with no error
    require(cents.map(_._1).toSeq == (0 until cents.length),
      s"coarse centroid ids must be contiguous 0..${cents.length - 1} " +
        s"under $root, got ${cents.map(_._1).toSeq}")
    val grouped = rows.filter(_.getString(0) == "book").groupBy(_.getInt(1))
    require(grouped.nonEmpty, s"no PQ codebooks published under $root")
    // A partial/corrupt store must FAIL here, not decode against shifted
    // codebooks: a missing subspace would otherwise silently collapse the
    // gap (groupBy+sortBy renumbers) and every later code would look up
    // the wrong book.
    val subs = grouped.keys.toSeq.sorted
    require(subs == (0 until subs.length),
      s"PQ subspace indices must be contiguous 0..${subs.length - 1} " +
        s"under $root, got $subs")
    val books = subs.map { sub =>
      grouped(sub).map(r => r.getInt(2) -> r.getSeq[Double](3).toArray)
        .sortBy(_._1)
    }
    val ksub = books.head.length
    val dsub = books.head.head._2.length
    require(books.forall(b => b.length == ksub && b.forall(_._2.length == dsub)),
      s"PQ codebooks under $root disagree on ksub/dsub " +
        s"(expected $ksub x $dsub)")
    (cents, books)
  }

  /** Bootstrap the encoded-corpus store: encode `corpus` under the given
    * codebooks and publish (nid, cell, code) bucketed by `cell`, so
    * recurring probes and merges read only the touched cells' buckets. */
  def publishCodes(corpus: DataFrame, root: String,
      cents: Array[(Int, Array[Double])],
      books: Seq[Array[(Int, Array[Double])]],
      nBuckets: Int): Long =
    SnapshotStore.publishBucketed(
      Similarity.ivfPqEncode(corpus, cents, books), root, "cell", nBuckets)

  /** Incrementally encode a new ingest batch against the SAME published
    * codebooks and APPEND it to the encoded store: history is neither
    * re-encoded nor rewritten (hardlink carryover) — cost is O(batch)
    * regardless of corpus size. `nid` uniqueness is the upstream ingest
    * pipeline's contract (the Dedup operators); pass `tag` when the
    * caller is at-least-once. Returns the new version. */
  def appendCodes(batch: DataFrame, root: String,
      cents: Array[(Int, Array[Double])],
      books: Seq[Array[(Int, Array[Double])]],
      tag: Option[String] = None): Long =
    SnapshotStore.append(Similarity.ivfPqEncode(batch, cents, books), root, tag)

  /** Read the current (or pinned) encoded corpus for probing. The
    * `_bucket` column is internal to the store layout; drop it so the
    * frame matches [[Similarity.ivfPqEncode]]'s schema. RAW read: any
    * deletion tombstones ([[deleteCodes]]) surface as `code IS NULL`
    * rows and their victims are still present — callers probing a store
    * that may carry deletions use [[readCodesLive]]/[[probeCodes]]. */
  def readCodes(spark: SparkSession, root: String, version: Long = 0L): DataFrame =
    SnapshotStore.read(spark, root, version)
      .select(col("nid"), col("cell"), col("code"))

  /** [[readCodes]] with deletions APPLIED: drops tombstone rows and
    * every nid any tombstone names. The tombstone side is delete-batch
    * sized (production deletes are a trickle next to the corpus), so the
    * anti-join broadcasts — the store side never shuffles. */
  def readCodesLive(spark: SparkSession, root: String,
      version: Long = 0L): DataFrame = {
    val all = readCodes(spark, root, version)
    all.filter(col("code").isNotNull)
      .join(broadcast(all.filter(col("code").isNull)
        .select(col("nid")).distinct()), Seq("nid"), "left_anti")
  }

  /** DELETE documents from the encoded store (VERDICT r12 item 2 — the
    * retraction dedup/curation removals need: without it a production
    * index serves deleted docs until a full republish): append one
    * TOMBSTONE row `(nid, cell, code = NULL)` per victim, where the cell
    * comes from the victim's own live row — so the tombstone lands in
    * the same cell bucket as its victim and every cell-pruned probe
    * ([[probeCodes]]) sees the deletion without reading anything extra.
    * Ids with no live row (never inserted, or already deleted) are
    * silently skipped — deletion is idempotent.
    *
    * SEMANTICS: a tombstone is TERMINAL for its nid until a
    * [[compactCodes]] rewrite removes it — re-appending a deleted nid
    * before compaction stays dead (rows carry no per-row version, so
    * tombstone-wins is the only order-free rule). Re-insert AFTER
    * compaction behaves normally. `nid` uniqueness across ingest batches
    * is the upstream contract ([[appendCodes]]).
    *
    * Scale posture: one scan of the store (filtered by the BROADCAST
    * delete set — delete batches are small by regime) finds the victims'
    * cells; the append writes only tombstone-bucket files with history
    * hardlink-carried. Cost is O(store scan + tombstones), no shuffle of
    * the store. Returns the new version (or the current one when nothing
    * matched — an empty append mints no version). */
  def deleteCodes(ids: DataFrame, root: String,
      tag: Option[String] = None): Long = {
    val spark = ids.sparkSession
    val live = readCodesLive(spark, root)
    val codeType = live.schema("code").dataType
    val tombs = live
      .join(broadcast(ids.select(col("nid")).distinct()), Seq("nid"),
        "left_semi")
      .select(col("nid"), col("cell"), lit(null).cast(codeType).as("code"))
    SnapshotStore.append(tombs, root, tag)
  }

  /** Rewrite the encoded store WITHOUT its tombstones and their victims
    * — the [[SnapshotStore.compact]] economics applied to deletions
    * (q104's pattern: compaction is a deliberate full rewrite that buys
    * back read amplification; history versions keep serving pinned
    * readers). After compaction the raw read equals the live read and a
    * previously-deleted nid may be re-inserted. Returns the new
    * version. */
  def compactCodes(spark: SparkSession, root: String,
      tag: Option[String] = None): Long = {
    // optimistic compare-and-swap, NOT publishBucketed: the compacted
    // content is computed FROM the current version, so an ingest tick
    // landing between the live-read and an unconditional publish would
    // vanish from the new current (the IncrementalAgg lost-update shape
    // applied to whole-store rewrites). rewriteBucketed aborts stale;
    // recompute from the new current and try again. The content read
    // and the CAS base are PINNED to one explicitly-resolved version
    // (r18, found by the race spec's codes storm): readCodesLive(0)
    // resolves CURRENT at its own call time, and a batch landing
    // between that read and rewriteBucketed's entry-time base check
    // would pass the check while the rewrite content silently lacked
    // the batch's rows.
    var attempt = 0
    var last: graft.engine.sources.StalePublishException = null
    while (attempt <= 16) {
      try {
        val base = SnapshotStore.currentVersion(root)
        return SnapshotStore.rewriteBucketed(
          readCodesLive(spark, root, base), root, tag, baseVersion = base)
      } catch {
        case e: graft.engine.sources.StalePublishException =>
          last = e; attempt += 1
      }
    }
    throw new IllegalStateException(
      s"compactCodes still stale after 16 retries under $root", last)
  }

  /** Probe-side PRUNED read: only the bucket directories holding the
    * given cells are listed and scanned (`_bucket` is a partition column
    * — directory-level pruning, the same mechanics as merge's touched-
    * bucket reads), then the exact cell filter is re-applied. At scale
    * this is what makes a published IVF-PQ store pay nprobe/nlist of the
    * compressed corpus per query batch in IO, not just in CPU. */
  def probeCodes(spark: SparkSession, root: String, cells: Seq[Int],
      version: Long = 0L): DataFrame = {
    require(cells.nonEmpty, "need at least one probed cell")
    val (keyCol, nBuckets) = SnapshotStore.readBucketSpec(root).getOrElse(
      throw new IllegalStateException(s"$root is not a bucketed store"))
    require(keyCol == "cell", s"codes store must be bucketed by cell, got $keyCol")
    val spark2 = spark
    import spark2.implicits._
    val bucketOf = cells.distinct.toDF("cell")
      .select(col("cell"), SnapshotStore.bucketExpr("cell", nBuckets).as("b"))
      .collect().map(_.getInt(1)).distinct.toSeq
    val pruned = SnapshotStore.read(spark, root, version)
      .filter(col("_bucket").isin(bucketOf.map(Int.box): _*) &&
        col("cell").isin(cells.distinct.map(Int.box): _*))
      .select(col("nid"), col("cell"), col("code"))
    // deletion-aware within the SAME pruned read: a tombstone lands in
    // its victim's cell bucket (deleteCodes), so the probed file set
    // already contains every deletion that could affect these cells —
    // no extra IO, the anti-join side is tombstone-sized
    pruned.filter(col("code").isNotNull)
      .join(broadcast(pruned.filter(col("code").isNull)
        .select(col("nid")).distinct()), Seq("nid"), "left_anti")
  }
}
