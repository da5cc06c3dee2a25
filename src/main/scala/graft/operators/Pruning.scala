package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode}

/** Scan-pruning helpers for the fact⋈dim path at 100 TB: make the engine's
  * parquet layout and join plans skip data instead of reading it.
  *
  * Three complementary mechanisms (all Catalyst/Parquet-native — the
  * operator's job is to lay data out and configure so they fire):
  *
  *  1. **Dynamic partition pruning (DPP)**: a partitioned fact joined to a
  *     filtered dim on the partition column scans only partitions the dim
  *     survives — the partition filter is injected at runtime from the
  *     dim-side result. Needs: hive-layout partition dirs (the warehouse's
  *     format) + equi-join on the partition column.
  *  2. **Runtime bloom-filter join pruning**: for shuffle joins on
  *     NON-partition keys, Catalyst builds a bloom filter from the
  *     selective (filtered) build side and semi-filters the big side's scan
  *     before the exchange — rows that cannot match never shuffle.
  *  3. **Parquet row-group skipping**: column bloom filters written into
  *     the footers serve point-lookup (`key = x`) row-group skips;
  *     sorting-within-partitions clusters values so min/max stats prune
  *     range predicates.
  *
  * 1 and 2 are optimizer rules — [[runtimeFilters]] exposes what actually
  * fired so specs (and operators at 100 TB) assert the plan, not hope.
  */
object Pruning {

  /** Write `df` as parquet with footer bloom filters on `bloomCols` (for
    * point-lookup row-group skipping) and optional value clustering via
    * `sortCols` (tight min/max stats per row group for range predicates).
    * The sort is within partitions only — no extra shuffle is introduced.
    * Filters are adaptive: the writer keeps candidates of several sizes
    * and stores the smallest that holds the column chunk's distinct
    * values at the target false-positive rate, so a ten-row file does
    * not carry a filter sized for the 1 MB default cap. */
  def writeWithBloomFilters(df: DataFrame, path: String,
                            bloomCols: Seq[String],
                            sortCols: Seq[String] = Nil,
                            partitionCols: Seq[String] = Nil): Unit = {
    val sorted =
      if (sortCols.nonEmpty)
        df.sortWithinPartitions(sortCols.map(df.col): _*)
      else df
    var w = sorted.write.mode(SaveMode.Overwrite)
    // candidates halve from the 1 MB cap: eleven reach down to 1 KB
    bloomCols.foreach { c =>
      w = w.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.candidates.number#$c", "11")
    }
    if (bloomCols.nonEmpty)
      w = w.option("parquet.bloom.filter.adaptive.enabled", "true")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(path)
  }

  /** Bit-interleave `cols` (each already normalized to `bits`-bit longs)
    * into a Z-value: output bit i·k+j takes bit i of column j. Pure Column
    * algebra — 16·k shift/mask terms, folded into one codegen'd projection. */
  private def interleaveBits(cols: Seq[Column], bits: Int): Column = {
    import org.apache.spark.sql.functions.{lit, shiftleft, shiftright}
    (0 until bits).flatMap { i =>
      cols.zipWithIndex.map { case (c, j) =>
        shiftleft(shiftright(c, i).bitwiseAND(lit(1L)), i * cols.length + j)
      }
    }.reduce(_.bitwiseOR(_))
  }

  /** Z-order (Morton-curve) clustered write: rows are range-partitioned
    * and sorted by the interleaved Z-value of `zCols`, so EVERY z-column's
    * min/max range per row group is a small fraction of its global range —
    * parquet stats then prune scans with predicates on ANY of the columns,
    * where a plain sort prunes only its leading column. The standard
    * multi-dimensional file-skipping layout (as in Iceberg/Delta
    * rewrite-with-zorder).
    *
    * Two passes over the data (min/max stats, then write) — the stats scan
    * reads only the z-columns (columnar projection). Numeric columns only;
    * each is normalized to a 16-bit rank by linear scaling, NULLs sort
    * first (rank 0). */
  def zOrderWrite(df: DataFrame, path: String, zCols: Seq[String],
                  numFiles: Int): Unit = {
    import org.apache.spark.sql.functions._
    require(zCols.nonEmpty && zCols.size <= 4,
      "zOrderWrite supports 1-4 z-columns (16 bits each)")
    val statsRow = df.select(zCols.flatMap(c =>
      Seq(min(col(c).cast("double")).as(s"mn_$c"),
          max(col(c).cast("double")).as(s"mx_$c"))): _*).head()
    val normalized = zCols.zipWithIndex.map { case (c, i) =>
      // empty input or an all-NULL column yields NULL stats — rank
      // everything 0 rather than NPE on the unboxing
      val mn = if (statsRow.isNullAt(2 * i)) 0.0 else statsRow.getDouble(2 * i)
      val mx = if (statsRow.isNullAt(2 * i + 1)) 0.0 else statsRow.getDouble(2 * i + 1)
      val span = if (mx > mn) mx - mn else 1.0
      when(col(c).isNull, lit(0L)).otherwise(
        least(lit(65535L), greatest(lit(0L),
          ((col(c).cast("double") - lit(mn)) / lit(span) * lit(65535.0))
            .cast("long"))))
    }
    df.withColumn("__z", interleaveBits(normalized, 16))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .select(df.columns.toIndexedSeq.map(col): _*)
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** The runtime filters present in `df`'s compiled physical plan:
    * "dpp" for each dynamic-partition-pruning subquery on a scan, and
    * "bloom" for each bloom-filter semi-filter Catalyst injected. Empty
    * means every scanned row pays the full join — at 100 TB that is a plan
    * bug worth failing a test over. */
  def runtimeFilters(df: DataFrame): Seq[String] = {
    val plan = df.queryExecution.executedPlan.toString()
    val dpp = "dynamicpruning".r.findAllIn(plan.toLowerCase).size
    val bloom = "bloomfilter".r.findAllIn(plan.toLowerCase).size
    Seq.fill(dpp)("dpp") ++ Seq.fill(bloom)("bloom")
  }
}
