package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** Parquet source layer for the driver-generated TPC-H-ish tables
  * (see /root/repo/TESTDATA.md). The reference workload's only I/O is
  * the DuckDB CLI (reference: create_duckdb_database.sh:5-7); our
  * engine's canonical source is columnar Parquet read through Spark's
  * vectorized reader, so predicate pushdown / column pruning reach the
  * scan for free.
  *
  * Scale posture: at 100 TB each logical table is a directory of many
  * parquet files (possibly partitioned); everything here takes a
  * directory and a table name, never a single-file assumption beyond
  * the driver's `<dir>/<name>.parquet` layout.
  */
object Tables {

  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** `events.ts` may arrive as Parquet INT64 TIMESTAMP(NANOS), which
    * Spark rejects unless this legacy flag is on; the column then reads
    * as nanosecond bigint (TESTDATA: FIXTURES.md §2). Runtime-settable
    * SQL conf; harmless for other layouts.
    */
  def configureNanos(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** Engine-internal contract: `events.ts` is a NANOSECOND bigint.
    * Parquet writers differ on the physical layout — TIMESTAMP(NANOS)
    * (reads as ns-bigint under `nanosAsLong`), standard TIMESTAMP(US)
    * (reads as TIMESTAMP/TIMESTAMP_NTZ), or an already-long column —
    * so the loader adapts the schema at the source, once, and every
    * downstream operator (windowing, as-of, sessionize, gap-fill) sees
    * one type. The cast is exact: micros × 1000 under the UTC session
    * (TIMESTAMP_NTZ carries no zone, so UTC makes `cast` the identity
    * on the stored micros — the same value DuckDB's `epoch_ns` yields).
    *
    * NON-NEGATIVITY CONTRACT: the normalized `ts` is assumed >= 0
    * (post-1970 events — true of the generated fixtures and any real
    * event log). Downstream bucketing uses Spark's `div` (integer
    * division truncating toward zero) where the DuckDB oracle uses
    * `//` (floor division); the two coincide exactly on non-negative
    * dividends and diverge on negatives, as would the sign-mirror
    * tricks in d17. Rather than pay a floor-division expression in
    * every hot bucketing path, the invariant is documented here once
    * at the single place every events read flows through; a pre-1970
    * feed would need `floor_div` bucketing (or a shifted epoch) in
    * e16/d17 before the oracle comparison is meaningful.
    */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(TimestampType) | Some(TimestampNTZType) =>
        df.withColumn("ts",
          unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case _ => df // already a (nanosecond) long — the legacy layout
    }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    require(all.contains(name), s"unknown table: $name (expected one of ${all.mkString(", ")})")
    // Memoize the DataFrame HANDLE per (session, dir, table) — r17
    // optimization round. Every bare `spark.read.parquet` call runs a
    // footer/schema-inference job (~30-50 ms measured): a 5-table
    // star-join query paid five of them, every query per pass, adding
    // up to tens of seconds across the board. The cache holds only
    // the lazy plan (schema + file index) — NO rows, NO results: every
    // query still scans parquet at execution, exactly as a production
    // driver that resolves tables through a catalog (schema known
    // once) rather than re-inferring per query. Keyed by dir so
    // multi-sf sessions (the curve harness) never cross-read.
    //
    // IMMUTABLE-TABLE ASSUMPTION (r17 advice): the memoized handle
    // pins the file-index snapshot taken at first load, so files
    // added to or rewritten under <dir>/<name>.parquet later in the
    // SAME session are invisible (and deletions fail tasks) until
    // SessionCache.clear(). That matches this engine's sources — the
    // driver's test dirs are generated once and never mutated in
    // place; every mutable-source pattern goes through the
    // version-addressed readers of ManifestTable, which
    // stay unmemoized. A deploy over in-place-mutable directories
    // must clear the session cache at its refresh boundaries.
    SessionCache.getOrElseUpdate(spark, s"table:$dir/$name") {
      if (name == "events") {
        configureNanos(spark)
        normalizeEventTs(spark.read.parquet(s"$dir/$name.parquet"))
      } else spark.read.parquet(s"$dir/$name.parquet")
    }
  }

  /** Exact row count from Parquet footer metadata — a driver-side
    * metadata read, NO Spark job (vs `df.count()`, which scans). Used
    * by operators that size tuning knobs (LSH plane counts, IVF
    * centroid counts) from corpus cardinality: at 100 TB an extra
    * full-table count action per query invocation is unacceptable.
    * Handles both a single `.parquet` file and a directory of files.
    */
  def parquetRowCount(spark: SparkSession, path: String): Long = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val statuses =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).filter(_.getPath.getName.endsWith(".parquet")).toSeq
      else Seq(fs.getFileStatus(p))
    statuses.map { st =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(st.getPath, conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame =
    spread(s, load(s, d, "documents"))
  def embeddings(s: SparkSession, d: String): DataFrame =
    spread(s, load(s, d, "embeddings")) // same rationale: qdot/ANN compute

  /** Spread an UNDER-SPLIT scan to cluster parallelism. The text
    * pipeline does heavy per-row compute (shingle explodes, n-gram
    * generation, DP filters, sketch folds), and everything before the
    * first exchange runs at the SCAN's parallelism — a compact
    * single-file corpus is one partition, so those map stages were
    * measured running on ONE core of 32 (d13's quadratic stage: 19 s
    * serial vs 0.7 s spread). A real 100 TB corpus arrives as
    * thousands of splits, making this a NO-OP (the condition guards
    * it); at test scale the explicit-numPartitions round-robin
    * repartition (explicit so AQE cannot coalesce compute-heavy but
    * byte-tiny partitions back together) is the honest stand-in for
    * that layout. Cost when it does fire: one shuffle of the raw rows.
    */
  private def spread(s: SparkSession, df: DataFrame): DataFrame = {
    val par = s.conf.get("spark.sql.shuffle.partitions").toInt
    if (df.rdd.getNumPartitions >= par) df else df.repartition(par)
  }
}
