package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's own input generators. Every row is a pure function of
  * (seed, id), so the same seed gives the same inputs at any partitioning,
  * and no change under `src/main` can move them.
  *
  * The base distributions are those of the engine's scale corpus (docs of
  * 40–80 words over a cubed-uniform vocabulary; five weighted event types
  * over a uniformly drawn user population that grows with n). On top of
  * the docs sit fixed planted shares, chosen by `id mod 20` so every class
  * is disjoint and countable without reading the data:
  *
  *  - class 0 (of `id mod 10`): a base doc;
  *  - class 1: a one-word near-dup of its predecessor (10 %), whose base
  *    draws 60–80 words;
  *  - class 3: an exact copy of its predecessor (10 %);
  *  - class 5: German marker words instead of English ones (10 %), so the
  *    language gate drops it;
  *  - classes 4 and 8: the shared boilerplate line appended (20 %);
  *  - `id mod 20 == 7`: one 13-word window of the benchmark suite (5 %).
  *
  * Every doc carries three marker words: the base corpus has none, and the
  * language gate would otherwise drop every doc as `und`. */
object Gen {

  val Boilerplate = "subscribe to our newsletter for daily updates " +
    "and exclusive offers from the editors"
  val EnMarkers = Array("the", "and", "of")
  val DeMarkers = Array("der", "und", "das")
  /** Benchmark suite: passages of `WindowsPerPassage` disjoint 13-word
    * windows; contaminated doc k carries window k. */
  val NgramLen = 13
  val WindowsPerPassage = 10

  def isNearDup(id: Long): Boolean = id % 10L == 1L
  def isExactCopy(id: Long): Boolean = id % 10L == 3L
  def isGerman(id: Long): Boolean = id % 10L == 5L
  def hasBoilerplate(id: Long): Boolean = id % 10L == 4L || id % 10L == 8L
  def isContaminated(id: Long): Boolean = id % 20L == 7L

  private def rng(seed: Long, id: Long, salt: Long) =
    new java.util.Random(seed ^ (id * 2654435761L) ^ (salt * 0x9E3779B97F4A7C15L))

  /** One base doc's words: the scale corpus's cubed-uniform draw, with
    * three language markers at rng positions. A near-dup base (class 0)
    * draws 60–80 words instead of 40–80; see [[docText]]. */
  private def baseWords(seed: Long, id: Long, vocab: Int,
      markers: Array[String]): Array[String] = {
    val rnd = rng(seed, id, 1L)
    val n = if (id % 10L == 0L) 60 + rnd.nextInt(21) else 40 + rnd.nextInt(41)
    val w = Array.tabulate(n) { _ =>
      val u = rnd.nextDouble()
      "w" + (u * u * u * vocab).toInt
    }
    markers.foreach(m => w(rnd.nextInt(n)) = m)
    w
  }

  /** The benchmark window a contaminated doc carries: words of the
    * suite's passage, drawn from a vocabulary no doc uses. */
  def benchWindow(seed: Long, window: Long): Array[String] = {
    val rnd = rng(seed, window, 2L)
    Array.fill(NgramLen)("b" + (rnd.nextLong() >>> 24))
  }

  def docText(seed: Long, id: Long, vocab: Int): String = {
    val baseId = if (isNearDup(id) || isExactCopy(id)) id - 1L else id
    val markers = if (isGerman(baseId)) DeMarkers else EnMarkers
    val w = baseWords(seed, baseId, vocab, markers)
    // a near-dup replaces its base's last word: one of its >= 58 word
    // 3-shingles differs, so the pair's shingle Jaccard is >= 57/59. The
    // engine's 32-hash, 8-band MinHash then misses the pair with
    // probability (1 - J^4)^8 < 1e-7; a planted pair it keeps whole is a
    // real failure of the stage, not LSH chance.
    if (isNearDup(id)) w(w.length - 1) = "m" + rng(seed, id, 3L).nextInt(vocab)
    val body = w.mkString(" ")
    val withBench =
      if (isContaminated(id)) {
        // insert a whole benchmark window in the middle of the doc
        val k = id / 20L
        val cut = body.indexOf(' ', body.length / 2)
        body.substring(0, cut) + " " + benchWindow(seed, k).mkString(" ") +
          body.substring(cut)
      } else body
    if (hasBoilerplate(id)) withBench + " " + Boilerplate else withBench
  }

  /** Curate input: (doc_id, text). */
  def docs(spark: SparkSession, n: Long, seed: Long,
      vocab: Int = 50000): DataFrame = {
    import spark.implicits._
    spark.range(0L, n, 1L, spark.sparkContext.defaultParallelism)
      .map(b => (b.longValue, docText(seed, b.longValue, vocab)))
      .toDF("doc_id", "text")
  }

  /** The benchmark suite the contaminated docs draw from, one row per
    * passage of `WindowsPerPassage` windows (covers `nDocs`' windows). */
  def benchmark(spark: SparkSession, nDocs: Long, seed: Long): DataFrame = {
    import spark.implicits._
    val windows = nDocs / 20L + 1L
    val passages = (windows + WindowsPerPassage - 1) / WindowsPerPassage
    spark.range(0L, passages, 1L, 1)
      .map { b =>
        val p = b.longValue
        (p, (0 until WindowsPerPassage).map(i =>
          benchWindow(seed, p * WindowsPerPassage + i).mkString(" "))
          .mkString(" "))
      }
      .toDF("passage_id", "text")
  }

  /** Store docs rows for key range [lo, hi). */
  def storeDocs(spark: SparkSession, lo: Long, hi: Long, seed: Long,
      gen: Long): DataFrame = storeRows(
    spark.range(lo, hi, 1L, math.max(1, math.min(4, ((hi - lo) / 2000L).toInt))).toDF(),
    seed, gen)

  /** Store docs rows for an explicit key list (merge upserts). */
  def storeDocsFor(spark: SparkSession, keys: Seq[Long], seed: Long,
      gen: Long): DataFrame = {
    import spark.implicits._
    storeRows(keys.toDF("id"), seed, gen)
  }

  /** (doc_id, text, score, gen) from a frame of ids: short text, a double
    * score (aggregated exactly), a version stamp `gen` so merged rows
    * differ from the rows they replace. */
  private def storeRows(ids: DataFrame, seed: Long, gen: Long): DataFrame =
    ids.select(col("id").as("doc_id"),
      concat(lit("d"), col("id").cast("string"), lit(" g"),
        lit(gen.toString)).as("text"),
      (pmod(xxhash64(col("id"), lit(seed), lit(gen)), lit(1000000L))
        .cast("double") / 1000.0).as("score"),
      lit(gen).as("gen"))

  val EventTypes = Array("view", "click", "purchase", "signup", "error")
  private val EventCum = Array(0.50, 0.75, 0.90, 0.97, 1.0)

  /** Event-time origin: 2023-11-14T22:13:20Z. */
  val T0Ms = 1700000000000L

  /** One event, pure in (seed, id), drawn as the scale corpus draws it:
    * the same per-id generator and draw order, a weighted type, a user
    * drawn uniformly from `users`, and a value in [0, 100) (quantised here
    * to 0.001). */
  def event(seed: Long, id: Long, users: Long): (String, Long, Double) = {
    val rnd = new java.util.Random(seed ^ (id * 2654435761L))
    val t = EventTypes(EventCum.indexWhere(rnd.nextDouble() <= _))
    val user = rnd.nextLong().abs % users
    (t, user, math.floor(rnd.nextDouble() * 100000.0) / 1000.0)
  }

  /** Clustered events table rows [lo, hi): (event_id, t_us, v100, value).
    * Event time advances 733 ms per id, like the scale corpus's. */
  def clusteredEvents(spark: SparkSession, lo: Long, hi: Long,
      seed: Long): DataFrame = {
    import spark.implicits._
    val users = math.max(1L, hi / 66L)
    spark.range(lo, hi, 1L, math.max(1, math.min(4, ((hi - lo) / 5000L).toInt)))
      .map { b =>
        val id = b.longValue
        val (_, _, v) = event(seed, id, users)
        (id, (T0Ms + id * 733L) * 1000L, math.floor(v * 100.0).toLong, v)
      }
      .toDF("event_id", "t_us", "v100", "value")
  }
}
