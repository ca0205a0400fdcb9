package graft.engine.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Z-curve math for the clustered store layout ([[ClusteredStore]]),
  * over ANY number of BIGINT cluster columns.
  *
  * THE multi-dimensional pruning story for a 100 TB fact table: a table
  * sorted on one column prunes range predicates on THAT column only — a
  * box predicate over k columns (time window × value band × tenant, the
  * dashboard/debugging shape) still reads every file on a
  * single-column-sorted layout, because the other columns' values are
  * uniformly spread across all files. Interleaving the bits of all k
  * columns (the Morton / Z-curve) makes file z-ranges correspond to
  * k-dimensional rectangles, so each file's [min, max] envelope on EVERY
  * column is tight, and a box query intersects only the few files whose
  * envelopes touch the box.
  *
  * Scaling to [0, 2^bits) uses the GLOBAL min/max (2k longs to the
  * driver, one aggregate, [[minMaxCount]]) — equi-width in value space;
  * the range shuffle in `ClusteredStore.stageZRun` then makes files
  * equi-COUNT in z space, so skew in any column degrades file envelopes
  * gracefully instead of producing empty/huge files. Writing, the
  * per-file envelopes, pruning and versioning all live in
  * [[ClusteredStore]]; this object holds no I/O.
  *
  * No counterpart in the reference (its only layout control is
  * `repartition(1)`, `train_model.py:57`); modeled on the public
  * Delta/Iceberg OPTIMIZE ZORDER BY semantics, built from Spark
  * primitives: bit interleaving is a fold of `shiftleft`/`bitwiseOR`
  * (codegen-friendly column expressions — no UDF), clustering is
  * `repartitionByRange` + `sortWithinPartitions`.
  */
object ZOrder {

  /** Bit-interleave k columns already scaled to [0, 2^bits): bit i of
    * column j lands at position i·k + j (for k = 2 this is the classic
    * Morton layout — a's bit i at 2i, b's at 2i+1). Pure column
    * expression — k·bits shift/or terms, all inside whole-stage codegen.
    * k·bits ≤ 62 keeps the result in a positive long. */
  def interleaveN(cols: Seq[Column], bits: Int): Column = {
    val k = cols.length
    require(k >= 1, "need at least one cluster column")
    require(bits >= 1 && k * bits <= 62,
      s"need 1 <= bits and cols*bits <= 62, got $k cols x $bits bits")
    cols.zipWithIndex.foldLeft(lit(0L)) { case (acc, (c, j)) =>
      (0 until bits).foldLeft(acc) { (a, i) =>
        a.bitwiseOR(shiftleft(c.bitwiseAND(lit(1L << i)), i * (k - 1) + j))
      }
    }
  }

  /** Scale a long column to [0, 2^bits) given its global min/max.
    * Exact integer arithmetic (double division would lose precision on
    * epoch-microsecond magnitudes): rebase to `v - min`, then drop low
    * bits with a right shift sized so the top value fits in `bits` bits.
    * Constant columns (min == max) scale to 0. `max - min` overflowing a
    * long (min very negative AND max very positive) fails loudly via
    * `Math.subtractExact` — silently landing in the constant-column
    * branch would collapse the dimension's scaling to 0 and quietly
    * destroy clustering/pruning for that column. */
  def scaled(c: Column, min: Long, max: Long, bits: Int): Column = {
    val span = Math.subtractExact(max, min) // ArithmeticException on overflow
    if (span <= 0L) lit(0L)
    else {
      val spanBits = 64 - java.lang.Long.numberOfLeadingZeros(span)
      val shift = math.max(0, spanBits - bits)
      shiftright(c.cast(LongType) - lit(min), shift)
    }
  }

  /** Per-file envelope aggregates. min/max are cast to LongType so the
    * sidecar path accepts the same column types [[zExprScaled]] does (r18
    * ADVICE): the documented contract is "BIGINT-castable", and an INT
    * cluster column satisfies it for clustering but would make
    * ClusteredStore's `Row.getLong` sidecar extraction throw
    * ClassCastException at publish time without this cast. */
  private[sources] def statExprs(cols: Seq[String]): Seq[Column] =
    cols.zipWithIndex.flatMap { case (c, i) =>
      Seq(min(col(c)).cast(LongType).as(s"min_$i"),
        max(col(c)).cast(LongType).as(s"max_$i"))
    } :+ count(lit(1)).as("n_rows")

  /** Global (min, max) per cluster column PLUS the row count, in ONE
    * aggregate job. Callers needing an emptiness probe before clustering
    * (ClusteredStore's publish/append no-op contract) fold it into the
    * scaling aggregate they must pay anyway — the separate isEmpty probe
    * re-ran the batch's whole lineage once more per publish (r22,
    * guide §1.2). Layout: [min_0, max_0, …, min_{k-1}, max_{k-1}, n]. */
  private[sources] def minMaxCount(df: DataFrame,
      cols: Seq[String]): org.apache.spark.sql.Row = {
    val exprs = cols.flatMap(c =>
      Seq(min(col(c).cast(LongType)), max(col(c).cast(LongType)))) :+
      count(lit(1))
    val Array(row) = df.agg(exprs.head, exprs.tail: _*).collect()
    row
  }

  private[sources] def rowCount(mm: org.apache.spark.sql.Row,
      cols: Seq[String]): Long = mm.getLong(2 * cols.length)

  /** The z column from a PRECOMPUTED [[minMaxCount]] row (no Spark job). */
  private[sources] def zExprScaled(mm: org.apache.spark.sql.Row,
      cols: Seq[String], bits: Int): Column = {
    require(!(0 until 2 * cols.length).exists(mm.isNullAt),
      s"${cols.mkString("/")} must be non-null for clustering")
    interleaveN(cols.zipWithIndex.map { case (c, i) =>
      scaled(col(c), mm.getLong(2 * i), mm.getLong(2 * i + 1), bits)
    }, bits)
  }
}
