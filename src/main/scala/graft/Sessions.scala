package graft

import org.apache.spark.sql.SparkSession

/** Session factory: one place for the engine's Spark tuning so Verify,
  * Bench, and tests agree.
  *
  * - shuffle partitions sized to the local core count (not the 200
  *   default — on a real cluster this is cores×2-3, set per deploy);
  * - AQE on: runtime coalescing + skew-join splitting are the 100 TB
  *   safety nets for skewed aggregation keys;
  * - UTC session time zone for oracle parity;
  * - `nanosAsLong` set once here, not as a hidden per-read side effect
  *   (the `events` table is Parquet INT64 TIMESTAMP(NANOS), which Spark
  *   otherwise rejects; it reads as nanosecond bigint).
  */
object Sessions {
  def local(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      // Planner extensions: window-rank≤k → partial top-k aggregation
      // (plans/TopKRewrite). Applied here so Verify, Bench and tests
      // all plan through the rewrite — p3's oracle run checks it.
      .withExtensions(graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Typed-object aggregates (the KMV / Misra-Gries / top-k sketch
      // UDAFs) run in ObjectHashAggregateExec, which silently falls
      // back to SORT-based aggregation once a task sees more than this
      // many distinct groups (default 128) — for p20's few-hundred
      // co-occurrence patterns that meant sorting millions of shingle
      // rows by an ARRAY key, dominating the query. Every object
      // buffer in this library is size-bounded (≤ 2k longs / k
      // counters), so 8192 in-memory groups is ≤ ~128 MB per task
      // worst-case — the hash path stays safe. On a cluster this
      // scales with executor memory the same way.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "8192")
      // Janino class cache (STATIC conf — bound at first-session
      // creation). Spark's default of 100 compiled-class entries
      // thrashes on this engine's 252-query board: one bench pass
      // generates thousands of distinct codegen fragments, so by the
      // time a query re-runs its classes are evicted and EVERY
      // measured run re-pays Janino compilation (~0.3-1.5 s/query,
      // r17 A/B: 42-query subset 89.8 s → 58.6 s, every query
      // improving, zero result change — OPTIMIZATION_r17.md). The
      // same applies to any long-running production driver serving a
      // query mix. Cost is bounded: generated classes are tens of KB
      // of metaspace each.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // Workaround for a Catalyst constraint-rewrite NoSuchElementException
      // (UnionBase.rewriteConstraints) when unioning localCheckpoint'ed
      // levels whose projections alias one source attribute twice (the
      // closure build's ancestor/descendant columns). Optimizer-only
      // feature; disabling does not change results.
      .config("spark.sql.constraintPropagation.enabled", "false")
      // Shuffle/spill files on tmpfs: 32 concurrent writers on the
      // container's /tmp overlay showed multi-10s I/O stalls on
      // shuffle-heavy queries; the working set here is far below RAM.
      .config("spark.local.dir",
        sys.env.getOrElse("SPARK_LOCAL_DIRS", "/dev/shm/spark-local"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // "WindowExec: No Partition Defined for Window operation!" fires on
    // every execution of an un-partitioned window. The engine's are
    // dim-sized or declared global (PLANAUDIT.md reviews the
    // single-partition exchanges they plan), so the warning only
    // floods test and bench logs.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    // Engine-wide native expressions (ascii_token_count /
    // ascii_clean_count ride in TextOps helpers that have no session
    // in scope, so the factory registers them once for every consumer
    // — mains and specs).
    graft.functions.AsciiCount.register(spark)
    spark
  }
}
