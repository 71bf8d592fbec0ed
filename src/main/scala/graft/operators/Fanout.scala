package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** Parallelism repair for fan-out maps over under-partitioned inputs
  * (guide §2.5 "input skew": one huge unsplittable file → repartition
  * immediately after the read).
  *
  * The driver's test corpora are single-row-group parquet files, so
  * every scan is ONE split regardless of `maxPartitionBytes` — and
  * every map-side fan-out downstream of the scan (trigram shingling,
  * token explodes, per-doc pair grids, signature hashing) runs on one
  * core of the machine. The same shape appears in production whenever
  * a stage's input is few-partitioned (a gzip file, a coalesced
  * aggregate) but its OUTPUT is many times larger: partition counts
  * are sized to input bytes, fan-out cost is proportional to output
  * bytes.
  *
  * [[rebalance]] hash-repartitions to the session's default
  * parallelism ONLY when the frame has fewer partitions — at cluster
  * scale (or any properly split input) the guard is false and the
  * plan is untouched, so this never inserts a corpus-sized exchange
  * into a 100 TB plan. The key must be deterministic and
  * high-cardinality (an id column): hash repartitioning on a
  * deterministic key is retry-safe (SPARK-38388) and needs no
  * sort-before-repartition pass, unlike round-robin `repartition(n)`.
  */
private[graft] object Fanout {
  /** Repair width — how many partitions an under-partitioned fan-out
    * input is spread to. NOT the core count: on the bench host class,
    * task DISPATCH costs ~7 ms serialized on the driver (measured: an
    * n-task no-op stage costs 0.17 s at n=4, 0.39 s at n=32, 0.61 s
    * at n=64 — linear past the minimum), so for a
    * fan-out stage with W seconds of single-threaded work the optimum
    * is n* = sqrt(W / 0.007) ≈ 8 at the W ≈ 0.3-0.7 s these repairs
    * target (measured end-to-end: q_dedup_minhash's checkpoint
    * consumers at 32-way cost +2 s of pure dispatch; 8-way is within
    * noise of its best). On a real cluster dispatch amortizes across
    * executors AND the guard below is false for any properly split
    * corpus, so this constant never reaches a production plan.
    */
  private[graft] def repairWidth(df: DataFrame): Int =
    math.min(8, df.sparkSession.sparkContext.defaultParallelism)

  def rebalance(df: DataFrame, key: Column): DataFrame = {
    val par = repairWidth(df)
    // getNumPartitions forces physical planning (no job); for the
    // localCheckpoint'd frames this helper mostly guards, the RDD is
    // already materialized and the count is a field read
    if (df.rdd.getNumPartitions < par) df.repartition(par, key) else df
  }

  /** NON-DOWNSIZING width for a user-pinned exchange that feeds a
    * fan-out (pair grid, basket explode): a user-specified partition
    * count is exempt from AQE coalescing in BOTH directions, so a
    * constant here could SHRINK a properly wide exchange at cluster
    * scale. max(defaultParallelism, shuffle.partitions) does not in
    * the default configuration: without the pin the exchange would
    * start `spark.sql.shuffle.partitions` wide (AQE only coalesces
    * DOWN from its initial count), and defaultParallelism covers
    * sessions that size shuffles below the core count. Caveat: a
    * session that sets
    * `spark.sql.adaptive.coalescePartitions.initialPartitionNum`
    * starts unpinned AQE exchanges at THAT count instead, so when it
    * exceeds both values this pin is narrower than the unpinned
    * exchange would have begun.
    */
  def gridWidth(df: DataFrame): Int = math.max(
    df.sparkSession.sparkContext.defaultParallelism,
    df.sparkSession.sessionState.conf.numShufflePartitions)
}
