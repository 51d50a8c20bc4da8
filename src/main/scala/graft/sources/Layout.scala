package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, LocalTableScanExec,
  RDDScanExec, SparkPlan, UnionExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.col

/** Partitioned + sorted parquet layout writer (the sibling of
  * [[Bucketing]]'s hash co-location): hive-style partition directories on a
  * coarse column (date, source) plus per-file sort on a fine column
  * (timestamp, key).
  *
  * Why this matters at 100 TB: the partition dirs give PLANNING-time
  * pruning (PartitionPruningSpec), and the in-file sort gives SCAN-time
  * row-group skipping — parquet stores min/max per row group, so a range
  * predicate on the sort column reads only the matching stripe of each
  * file instead of decoding it whole. Spark's parquet reader applies those
  * stats automatically; the layout is what makes them selective (an
  * unsorted file has every row group spanning the full value range — the
  * stats prune nothing).
  *
  * One shuffle total: `repartition(partCol)` co-locates each partition
  * value, then `sortWithinPartitions` orders rows inside each task so each
  * written file is one sorted run. No global sort — a `orderBy` would add
  * a range-exchange over the entire dataset for no additional skipping
  * power.
  */
object Layout {

  /** SCALE-ADAPTIVE SCAN FAN-OUT (optimization guide §2.5 "input skew: one
    * huge unsplittable file", §2.6 idle capacity): a scan whose file layout
    * yields fewer partitions than the cluster has cores serializes every
    * map-side expression above it — md5 shingling, cosine folds, AC scans —
    * onto that partition count. The driver tables are one single-row-group
    * parquet file each, so every CPU-heavy scan stage in the suite ran
    * 1-of-N-cores (measured: q23's signature stage = 4.7 s in ONE task on
    * local[32]). When (and only when) the scan is narrower than the core
    * count, hash-repartition on the row key up to defaultParallelism — one
    * exchange of an input that is small BY CONSTRUCTION (a large input
    * already scans wide) buys full-width execution of everything above it.
    * At production scale the gate no-ops: a 100 TB table scans as thousands
    * of splits, `getNumPartitions ≥ cores`, and no exchange is added.
    * Deterministic (hash partitioning on the key column, not round-robin),
    * so task retries cannot reshuffle rows (guide §2.5 SPARK-38388 note)
    * and downstream per-row/fixed-point results are unchanged. The width
    * comes from [[scanPartitions]]: deciding runs nothing. */
  def fanOutScan(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (scanPartitions(df) < cores) df.repartition(cores, key) else df
  }

  /** The partitions `df` runs at, read from its physical leaves' split
    * metadata: the file splits of a file scan, the partitions of a
    * checkpoint's RDD, and for local data one slice per row up to
    * defaultParallelism (Spark's own rule for parallelizing it). Narrow
    * operators keep their child's width and a union adds its children's.
    * Unlike `df.rdd.getNumPartitions` it registers no SQL execution and
    * compiles no row-deserializing plan. Every caller passes a narrow plan
    * over a scan, a checkpoint or local data, where the count is exact;
    * any other operator over several inputs (a join) counts its widest. */
  private[graft] def scanPartitions(df: DataFrame): Int = {
    val slices = df.sparkSession.sparkContext.defaultParallelism
    def width(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => width(a.executedPlan)
      case f: FileSourceScanExec => f.inputRDD.getNumPartitions
      case r: RDDScanExec => r.rdd.getNumPartitions
      case l: LocalTableScanExec => math.min(l.rows.size, slices)
      case u: UnionExec => u.children.map(width).sum
      case one if one.children.size == 1 => width(one.children.head)
      case many => many.children.map(width).maxOption.getOrElse(0)
    }
    width(df.queryExecution.executedPlan)
  }

  def writePartitionedSorted(df: DataFrame, dir: String,
                             partCol: String, sortCols: Seq[String]): Unit =
    df.repartition(col(partCol))
      .sortWithinPartitions((partCol +: sortCols).map(col): _*)
      .write.mode("overwrite").partitionBy(partCol).parquet(dir)

  /** Z-ORDER (Morton-curve) interleave of two long key columns — the sort
    * key that makes row-group min/max stats selective on BOTH dimensions
    * at once. A single-column sort gives perfect skipping on that column
    * and none on any other; interleaving the keys' bits tiles the 2-D key
    * space so each file covers a small rectangle, and a range predicate on
    * EITHER column prunes most row groups. Pure codegen'd expression work:
    * callers pass keys already scaled to `bits`-bit ordinals (see
    * [[writeZOrdered]], which derives them by min/max linear scaling), and
    * this expression interleaves their bits via shifts — one flat tree
    * inside whole-stage codegen.
    */
  def zOrderKey(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column,
                bits: Int = 21): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    // spread the low `bits` bits of x so consecutive bits land 2 apart —
    // unrolled at plan-build time (bits is a constant), one flat
    // shift/and/or expression tree inside whole-stage codegen
    def spread(x: org.apache.spark.sql.Column) =
      (0 until bits).map(i =>
        shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i))
        .reduce(_ bitwiseOR _)
    spread(a).bitwiseOR(shiftleft(spread(b), 1))
  }

  /** Write `df` z-order-clustered on two long columns: scale both keys to
    * bounded ordinals, sort by the interleaved Morton key within each
    * output task. Same one-shuffle discipline as
    * [[writePartitionedSorted]] — `repartitionByRange` on the z-key both
    * co-locates neighboring tiles and bounds each task's tile span, then
    * the in-task sort makes every file one Morton run. Ordinals come from
    * min/max linear scaling through ONE 1-row broadcast aggregate (no
    * global rank window — a single-partition sort is exactly the
    * bottleneck a layout pass must not have; heavily skewed keys tile less
    * evenly, the price of staying distributed). LayoutSpec asserts the
    * payoff: per-file min/max ranges are narrow on BOTH columns. */
  def writeZOrdered(df: DataFrame, dir: String,
                    colA: String, colB: String, files: Int): Unit = {
    import org.apache.spark.sql.functions._
    val bits = 21
    val stats = broadcast(df.agg(
      min(col(colA)).as("__mina"), max(col(colA)).as("__maxa"),
      min(col(colB)).as("__minb"), max(col(colB)).as("__maxb")))
    def ordinal(c: String, mn: String, mx: String) =
      floor((col(c) - col(mn)).cast("double") /
          greatest((col(mx) - col(mn)).cast("double"), lit(1.0))
        * lit((1L << bits) - 1)).cast("long")
    val keyed = df.crossJoin(stats)
      .withColumn("__z", zOrderKey(
        ordinal(colA, "__mina", "__maxa"),
        ordinal(colB, "__minb", "__maxb"), bits))
      .drop("__mina", "__maxa", "__minb", "__maxb")
    keyed.repartitionByRange(files, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(dir)
  }
}
