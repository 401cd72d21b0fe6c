package graft.core

import org.apache.spark.sql.{Column, DataFrame}

/** Scale-adaptive partition-width helpers for CPU-bound stages.
  *
  * AQE's partition coalescing is BYTE-based (guide §2.2): a shuffle
  * whose payload is narrow (candidate-id pairs, a few MB) gets coalesced
  * to a handful of tasks even when the stage that reads it is CPU-bound
  * (similarity kernels over millions of pairs). Measured on the r21
  * baseline: q22's 43 s-of-CPU scoring stage ran on 16 tasks, q34's on
  * 8, q61's on 6 — half to five-sixths of the machine idle through the
  * most expensive stage of each query.
  *
  * [[pinnedDistinct]] replaces `.distinct()` at those seams with
  * `repartition(width, keys…) + dropDuplicates`: the explicit partition
  * count makes the exchange REPARTITION_BY_NUM, which AQE's coalescer
  * leaves alone, and the aggregation reuses the partitioning, so the
  * shuffle count is unchanged — only the width is pinned. [[width]] is
  * derived from the session (max of the configured shuffle parallelism
  * and the cluster's default parallelism), never a constant, so the same
  * code pins 32 locally and the real width on a cluster.
  */
object Parallelism {

  /** Full-width partition count for pinning a CPU-bound stage: the
    * larger of the session's shuffle parallelism and the cluster's
    * default parallelism (both scale with the deployment; neither is a
    * local-mode constant).
    */
  def width(df: DataFrame): Int = {
    val spark = df.sparkSession
    math.max(spark.sessionState.conf.numShufflePartitions,
      spark.sparkContext.defaultParallelism)
  }

  /** Insert a pinned-width exchange: spreads the per-row work ABOVE it
    * to full machine width (bench-SF parquet is single-row-group, so
    * scans are one task), and — because AQE materializes each exchange
    * exactly once — makes the subtree BELOW it single-execution even
    * when the consumer is a global `orderBy`, whose range-partitioner
    * sampling pass otherwise re-executes the whole child chain a second
    * time (measured: every per-row-expensive query ending in orderBy ran
    * its kernel stage twice).
    */
  def staged(df: DataFrame, keys: Column*): DataFrame =
    df.repartition(width(df), keys: _*)

  /** `.distinct()` pinned at [[width]] partitions on `keys`. Exactly one
    * exchange, like plain distinct — but the downstream aggregate (and
    * whatever codegen'd/UDF work is fused after it, e.g. the attach joins
    * and scoring `PersonMatching.scorePairs` runs over q34's MinHash
    * candidates) runs at full machine width instead of AQE's
    * byte-coalesced task count. `keys` must be the frame's full column
    * set for dedup-equivalence with distinct (callers pass every column).
    */
  def pinnedDistinct(df: DataFrame, keys: Column*): DataFrame = {
    require(keys.nonEmpty, "pinnedDistinct needs the dedup key columns")
    df.repartition(width(df), keys: _*).dropDuplicates()
  }
}
