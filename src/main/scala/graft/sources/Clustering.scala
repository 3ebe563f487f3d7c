package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Range-clustered layout: sort the data ACROSS files by a clustering
  * key so each output file covers a disjoint key range.
  *
  * Why this matters at 100 TB: parquet footers carry min/max stats per
  * row group, and the scan planner skips files whose range cannot match
  * a predicate. Hash-partitioned or unordered writes spread every key
  * over every file — stats cover everything, nothing skips. Range
  * clustering makes `WHERE key BETWEEN a AND b` touch only the files
  * whose range overlaps [a, b]: I/O proportional to selectivity, like
  * partition pruning but for columns too high-cardinality to be
  * directory partitions (user ids, timestamps at sub-day grain).
  *
  * `repartitionByRange` samples the key distribution, so files are also
  * size-balanced under skew — unlike value-based directory partitioning,
  * which gives hot keys giant files.
  */
object Clustering {

  /** Write `df` range-clustered on `key` into `nFiles` files, each
    * sorted internally (row-group stats stay tight within the file). */
  def writeRangeClustered(
      df: DataFrame,
      path: String,
      key: String,
      nFiles: Int): Unit =
    rangeCluster(df, Seq(key), nFiles)
      .write.mode(SaveMode.Overwrite)
      .parquet(path)

  /** Morton (z-order) interleave of per-column bucket ranks: bit i of
    * column j lands at position `i * nCols + j`, so a contiguous z-range
    * constrains the high bits of EVERY dimension at once. All builtin
    * bit ops — stays inside whole-stage codegen. */
  private[sources] def morton(buckets: Seq[Column], bits: Int): Column = {
    require(buckets.nonEmpty && bits * buckets.size <= 62,
      s"${buckets.size} cols × $bits bits exceeds a long")
    val n = buckets.size
    val terms = for {
      (b, j) <- buckets.zipWithIndex
      i <- 0 until bits
    } yield shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), i * n + j)
    terms.reduce(_.bitwiseOR(_))
  }

  /** Write `df` z-order-clustered on several keys: each column is
    * bucketed to `bits` bits (linear `width_bucket` over its min/max),
    * the bucket ranks are Morton-interleaved, and the data is
    * range-partitioned + sorted on the z-value.
    *
    * Why not just [[writeRangeClustered]] on (k1, k2)? Lexicographic
    * clustering makes file min/max stats tight on the LEADING key only —
    * a predicate on k2 alone skips nothing. Z-ordering spreads locality
    * across all keys: every file covers a small hyper-rectangle, so
    * single-column predicates on ANY clustered key skip files (the
    * standard lakehouse layout for multi-dimension point/range lookups).
    *
    * The min/max collect is two scalar rows (legitimate driver traffic,
    * like IvfIndex centroids). Linear bucketing assumes roughly uniform
    * key ranges; for heavy skew substitute quantile boundaries from
    * `approxQuantile` — the interleave and write path stay identical.
    * NULL keys bucket to rank 0 (sort first, stats unaffected). */
  def writeZOrdered(
      df: DataFrame,
      path: String,
      keys: Seq[String],
      nFiles: Int,
      bits: Int = 8): Unit =
    withZ(df, keys, bits)
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode(SaveMode.Overwrite)
      .parquet(path)

  /** Range-cluster `df` on `keys` (one key as-is, several by their
    * z-value) into `nFiles` range partitions, each sorted internally —
    * the staged layout of the commit log's clustered writes
    * ([[SnapshotLog.upsertBatch]]'s `clusterBy`, OPTIMIZE ZORDER).
    * `lead` columns range-partition and sort ahead of the key, so a
    * rewrite spanning several table partitions keeps each one's rows
    * in ranges of their own. */
  def rangeCluster(
      df: DataFrame,
      keys: Seq[String],
      nFiles: Int,
      lead: Seq[Column] = Nil): DataFrame = {
    val (d, key) =
      if (keys.size == 1) (df, col(keys.head)) else (withZ(df, keys), col("__z"))
    d.repartitionByRange(math.max(nFiles, 1), lead :+ key: _*)
      .sortWithinPartitions(lead :+ key: _*)
      .drop("__z")
  }

  /** Append the Morton interleave of `keys` as a `__z` column — the
    * sortable z-value [[writeZOrdered]] and [[rangeCluster]] cluster
    * on. The min/max collect is one scalar row. */
  def withZ(df: DataFrame, keys: Seq[String], bits: Int = 8): DataFrame = {
    val stats = df.agg(
      keys.flatMap(k => Seq(
        min(col(k).cast("double")).as(s"__mn_$k"),
        max(col(k).cast("double")).as(s"__mx_$k"))).head,
      keys.flatMap(k => Seq(
        min(col(k).cast("double")).as(s"__mn_$k"),
        max(col(k).cast("double")).as(s"__mx_$k"))).tail: _*).head
    val nBuckets = 1 << bits
    val buckets = keys.zipWithIndex.map { case (k, i) =>
      // all-NULL key → NULL min/max; constant key → mn == mx, where
      // width_bucket's zero-width range yields NULL. Both degenerate to a
      // single bucket rather than poisoning every z-value with NULL.
      val mn = if (stats.isNullAt(2 * i)) 0.0 else stats.getDouble(2 * i)
      val mx = if (stats.isNullAt(2 * i + 1)) 0.0 else stats.getDouble(2 * i + 1)
      if (mn == mx) lit(0L)
      else
        // width_bucket yields 1..n (n+1 at max edge); clamp to 0..n-1
        // (greatest also skips the NULL a NULL key value produces → rank 0)
        least(
          greatest(
            width_bucket(col(k).cast("double"), lit(mn), lit(mx), lit(nBuckets)) - 1,
            lit(0L)),
          lit((nBuckets - 1).toLong))
    }
    df.withColumn("__z", morton(buckets, bits))
  }
}
