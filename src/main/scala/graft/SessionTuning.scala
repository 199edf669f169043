package graft

import org.apache.spark.sql.SparkSession

/** The adaptive-execution contract every runtime session builder pins
  * EXPLICITLY, plus the codegen cache size and three bounds on
  * per-session JVM state (below): Bench, Verify,
  * StageProbe, PlanDump, PlanAudit, ScaleSmoke — one definition so they
  * cannot drift.
  *
  * Spark 4.x already defaults all three ON — r20 verified every prior
  * bench/oracle number was an AQE number — but the bench/oracle
  * behavior must not silently change with a Spark upgrade whose
  * defaults move, so the contract is pinned here (guide §2.2/§2.5:
  * runtime partition coalescing and skew-join splitting are the
  * scale-adaptive partitioning story; the initial partition count
  * stays `spark.sql.shuffle.partitions` = the session's core count,
  * set per-builder from $SPARK_GRAFT_CPUS).
  *
  * Knobs deliberately left at defaults after r20 A/B (full-bench,
  * min-of-2): `coalescePartitions.parallelismFirst` and
  * `preferSortMergeJoin` — see OPTIMIZATION_r20.md for the numbers.
  *
  * The codegen class cache is sized here too. Spark's default holds
  * 100 compiled classes; one daily refresh cycles through ~184 and the
  * registry through thousands, so the LRU missed on every class and
  * every warm call recompiled (a warm `runDailyCat`: ~184 compilations,
  * 2.1 s). The cap only bounds the cache; heap is set by the live
  * entries, ~42 KB each (+4.2 MB for ~100 more; perfbench's live heap
  * rose 3.9 MB on `daily_refresh` and 1.7 MB on `star_reads`). It is a
  * STATIC conf, read once per JVM when the code generator first runs,
  * so it must be on the builder — a live session refuses it.
  *
  * Three more static confs bound JVM state that otherwise grows with
  * the work a session submits per minute, and so with throughput (a
  * long refresh loop's live heap rose by ~3.4 MB per refresh):
  *
  *  - `spark.sql.shuffleExchange.maxThreadThreshold` = 16 and
  *    `spark.sql.resultQueryStage.maxThreadThreshold` = 16. Spark
  *    materializes adaptive query stages on two cached pools whose core
  *    size equals their cap, 1024 by default, with a 60 s keep-alive:
  *    every submission starts a new thread until the cap, and each idle
  *    thread keeps its cloned local properties and thread-locals.
  *    Under a concurrent daily refresh the live threads doubled within
  *    40 s (310 → 659, 210 → 441). A capped pool queues work instead of
  *    adding threads. A stage waiting on a nested adaptive query that
  *    needs the same pool could wait on the queue; the whole registry
  *    (`Verify`, `Bench`) runs under these caps as the check. If a
  *    query ever hangs there, raise the cap and record why — do not
  *    drop it.
  *  - `spark.sql.ui.retainedExecutions` = 50 (default 1000). The SQL
  *    status store keeps the last N executions with every plan metric,
  *    ~650 metrics each for a refresh's writes; no code here reads it.
  */
object SessionTuning {
  def withAqe(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.codegen.cache.maxEntries", "10000")
    .config("spark.sql.shuffleExchange.maxThreadThreshold", "16")
    .config("spark.sql.resultQueryStage.maxThreadThreshold", "16")
    .config("spark.sql.ui.retainedExecutions", "50")
}
