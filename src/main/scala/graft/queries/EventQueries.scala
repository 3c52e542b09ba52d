package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables

/** Event-stream analytics over `events` (ts = nanosecond-epoch bigint
  * under nanosAsLong; DuckDB reads the same parquet as TIMESTAMP, so
  * oracle arithmetic goes through epoch_ns — hour-level buckets are
  * unaffected by DuckDB's ns→µs truncation).
  */
object EventQueries {

  private val dec12_2 = DecimalType(12, 2)

  val all: Seq[QueryDef] = Seq(

    // ---- tumbling 1h windows per event type ----
    QueryDef("e1_hourly_windows",
      """SELECT epoch_ns(ts) // 3600000000000 AS hour_bucket, event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour_bucket, event_type""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .withColumn("hour_bucket", expr("ts div 3600000000000"))
        .groupBy("hour_bucket", "event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(dec12_2)).cast("double").as("sum_value"))
        .orderBy("hour_bucket", "event_type")
    },

    // ---- exact distinct users per event type ----
    QueryDef("e2_distinct_users",
      """SELECT event_type,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"),
          sum(col("value").cast(dec12_2)).cast("double").as("sum_value"))
        .orderBy("event_type")
    },

    // ---- JSON property extraction ----
    QueryDef("e3_json_extract",
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val
        |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k_val"))
        .orderBy("event_id")
    },

    // ---- 6h tumbling windows via the event-time window() API ----
    // Exercises the Structured-Streaming window shape on a batch frame;
    // w_start is epoch seconds (engine-portable).
    QueryDef("e4_six_hour_windows",
      """SELECT (epoch_ns(ts) // 21600000000000) * 21600 AS w_start,
        |  COUNT(*) AS n_events,
        |  COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1 ORDER BY w_start""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .withColumn("ets", timestamp_micros(expr("ts div 1000")))
        .groupBy(window(col("ets"), "6 hours").as("w"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
        .select(unix_timestamp(col("w.start")).as("w_start"),
          col("n_events"), col("n_users"))
        .orderBy("w_start")
    },

    // ---- sessionization: gap-based sessions per user (windowed lag) ----
    // Timestamps are quantized to MICROSECONDS on the Spark side (ts
    // div 1000) to match DuckDB's ns→µs truncation of the same parquet;
    // event_id breaks ordering ties on both sides.
    QueryDef("e5_sessionize",
      """WITH seq AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tus,
        |    LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_tus
        |  FROM events
        |), flagged AS (
        |  SELECT user_id, event_id, tus,
        |    CASE WHEN prev_tus IS NULL OR tus - prev_tus > 1800000000 THEN 1 ELSE 0 END AS new_session
        |  FROM seq
        |), numbered AS (
        |  SELECT user_id, tus,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY tus, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM flagged
        |)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  COUNT(*) AS n_events,
        |  CAST((MAX(tus) - MIN(tus)) // 1000000 AS BIGINT) AS duration_s
        |FROM numbered GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin) { (s, dir) =>
      val byUser = Window.partitionBy("user_id").orderBy(col("tus"), col("event_id"))
      val cum = Window.partitionBy("user_id").orderBy(col("tus"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .withColumn("tus", expr("ts div 1000"))
        .withColumn("prev_tus", lag(col("tus"), 1).over(byUser))
        .withColumn("new_session",
          when(col("prev_tus").isNull ||
            col("tus") - col("prev_tus") > 1800000000L, 1).otherwise(0))
        .withColumn("session_id", sum(col("new_session")).over(cum).cast("long"))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          expr("CAST((MAX(tus) - MIN(tus)) div 1000000 AS BIGINT)").as("duration_s"))
        .orderBy("user_id", "session_id")
    },

    // ---- native session_window twin of e5 ----
    // Spark's built-in gap-session operator (one shuffle on user_id +
    // per-partition session assembly — no double window pass like the
    // lag/cumsum form, and the SAME operator works on a stream).
    // Boundary semantics: session_window spans [t, t+gap) per event,
    // merging on OVERLAP, so an event exactly gap after the previous
    // one starts a NEW session — the oracle's island test is therefore
    // `diff >= gap` (e5's manual form uses `> gap`; both are valid
    // sessionizations, the oracle must just match the operator's).
    QueryDef("e9_session_window",
      """WITH seq AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tus,
        |    LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_tus
        |  FROM events
        |), flagged AS (
        |  SELECT user_id, event_id, tus,
        |    CASE WHEN prev_tus IS NULL OR tus - prev_tus >= 1800000000 THEN 1 ELSE 0 END AS new_session
        |  FROM seq
        |), numbered AS (
        |  SELECT user_id, tus,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY tus, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM flagged
        |)
        |SELECT user_id, CAST(MIN(tus) // 1000000 AS BIGINT) AS s_start,
        |  COUNT(*) AS n_events
        |FROM numbered GROUP BY user_id, session_id
        |ORDER BY user_id, s_start""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .withColumn("ets", timestamp_micros(expr("ts div 1000")))
        .groupBy(col("user_id"), session_window(col("ets"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_timestamp(col("sw.start")).as("s_start"), col("n_events"))
        .orderBy("user_id", "s_start")
    },

    // ---- as-of join: each purchase to the user's latest prior view ----
    // The oracle is DuckDB's NATIVE ASOF LEFT JOIN — our union-merge
    // composition (AsofJoin.scala) must reproduce it exactly. The right
    // side is deduped to one row per (user, µs) because under ties
    // "the" latest row is engine-dependent in every ASOF impl.
    QueryDef("e6_asof_join",
      """WITH p AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'purchase'
        |), v AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, MAX(event_id) AS v_id
        |  FROM events WHERE event_type = 'view' GROUP BY 1, 2
        |)
        |SELECT p.event_id AS purchase_id, p.user_id, v.v_id AS view_id,
        |  (p.ts_us - v.ts_us) // 1000000 AS gap_s
        |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts_us >= v.ts_us
        |ORDER BY purchase_id""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir).withColumn("ts_us", expr("ts div 1000"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts_us")
      val views = ev.filter(col("event_type") === "view")
        .groupBy("user_id", "ts_us").agg(max("event_id").as("v_id"))
        .select(col("user_id"), col("ts_us").as("v_ts_us"), col("v_id"))
      graft.operators.AsofJoin.asofJoin(purchases, views,
        keys = Seq("user_id"), leftTs = "ts_us", rightTs = "v_ts_us",
        rightCols = Seq("v_id", "v_ts_us"))
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("asof_v_id").as("view_id"),
          expr("CAST((ts_us - asof_v_ts_us) div 1000000 AS BIGINT)").as("gap_s"))
        .orderBy("purchase_id")
    },

    // ---- the SAME as-of semantics through the NATIVE operator ----
    // e6's union-merge composes existing nodes; e14 runs the custom
    // LogicalPlan → Strategy → AsofMergeJoinExec stack
    // (plans/AsofMergeJoin): one exchange + sort per side and a
    // single-pass zipped merge with O(1) state — no window, no union
    // padding. Same DuckDB ASOF oracle, so the physical operator is
    // hash-checked end to end against a native engine implementation.
    QueryDef("e14_asof_native",
      """WITH p AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'purchase'
        |), v AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, MAX(event_id) AS v_id
        |  FROM events WHERE event_type = 'view' GROUP BY 1, 2
        |)
        |SELECT p.event_id AS purchase_id, p.user_id, v.v_id AS view_id,
        |  (p.ts_us - v.ts_us) // 1000000 AS gap_s
        |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts_us >= v.ts_us
        |ORDER BY purchase_id""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir).withColumn("ts_us", expr("ts div 1000"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts_us")
      val views = ev.filter(col("event_type") === "view")
        .groupBy("user_id", "ts_us").agg(max("event_id").as("v_id"))
        .select(col("user_id").as("v_user"), col("ts_us").as("v_ts_us"),
          col("v_id"))
      graft.plans.AsofMergeJoin.asofJoin(purchases, views,
          keys = Seq("user_id"), leftTs = "ts_us", rightTs = "v_ts_us",
          rightKeys = Seq("v_user"))
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("v_id").as("view_id"),
          expr("CAST((ts_us - v_ts_us) div 1000000 AS BIGINT)").as("gap_s"))
        .orderBy("purchase_id")
    },

    // ---- e28: top event-path trigrams (behavioral path analysis) ----
    // e15's first-order transitions extended to PATHS: the most common
    // length-3 event sequences (consecutive in each user's stream) and
    // how many distinct users walk each. Two LEADs over ONE
    // user-partitioned window sort (Spark plans a single exchange; the
    // second lead rides the first's sort), then a path-keyed count —
    // the "what do users actually do" sankey input. Path cardinality
    // is |types|³ = 125, so everything after the window is
    // control-plane sized. Top 20 by walk count, deterministic
    // tiebreak on the path string.
    QueryDef("e28_path_trigrams",
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    LEAD(event_type, 1) OVER w AS e2,
        |    LEAD(event_type, 2) OVER w AS e3
        |  FROM (SELECT user_id, event_type, epoch_us(ts) AS tus, event_id FROM events)
        |  WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
        |), paths AS (
        |  SELECT user_id, event_type || '>' || e2 || '>' || e3 AS path
        |  FROM seq WHERE e2 IS NOT NULL AND e3 IS NOT NULL
        |)
        |SELECT path, CAST(COUNT(*) AS BIGINT) AS n_walks,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM paths GROUP BY path
        |ORDER BY n_walks DESC, path LIMIT 20""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("tus", "event_id")
      Tables.events(s, dir)
        .select(col("user_id"), col("event_type"),
          expr("ts div 1000").as("tus"), col("event_id"))
        .withColumn("e2", lead("event_type", 1).over(w))
        .withColumn("e3", lead("event_type", 2).over(w))
        .where(col("e2").isNotNull && col("e3").isNotNull)
        .select(col("user_id"),
          concat_ws(">", col("event_type"), col("e2"), col("e3")).as("path"))
        .groupBy("path")
        .agg(count(lit(1)).as("n_walks"),
          countDistinct("user_id").as("n_users"))
        .orderBy(col("n_walks").desc, col("path"))
        .limit(20)
    },

    // ---- e27: as-of join with a TOLERANCE (merge_asof semantics) ----
    // e14's backward as-of with the missing production knob: a match
    // only counts if the matched row is RECENT ENOUGH (here ≤ 1 h) —
    // an hours-old "latest view" attributing a purchase is worse than
    // no attribution. Tolerance composes as a post-join projection
    // over the same merge-join pass (the as-of already found the
    // single latest candidate; staleness is row-local arithmetic), so
    // the scale shape is exactly e14's: one (key, time)-sorted merge,
    // no fan-out, no second pass. NULL view/gap on out-of-tolerance
    // rows keeps the left cardinality — the merge_asof contract.
    QueryDef("e27_asof_tolerance",
      """WITH p AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'purchase'
        |), v AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, MAX(event_id) AS v_id
        |  FROM events WHERE event_type = 'view' GROUP BY 1, 2
        |)
        |SELECT p.event_id AS purchase_id, p.user_id,
        |  CASE WHEN p.ts_us - v.ts_us <= 3600000000 THEN v.v_id END AS view_id,
        |  CASE WHEN p.ts_us - v.ts_us <= 3600000000
        |       THEN (p.ts_us - v.ts_us) // 1000000 END AS gap_s
        |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts_us >= v.ts_us
        |ORDER BY purchase_id""".stripMargin) { (s, dir) =>
      val tolUs = 3600000000L
      val ev = Tables.events(s, dir).withColumn("ts_us", expr("ts div 1000"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts_us")
      val views = ev.filter(col("event_type") === "view")
        .groupBy("user_id", "ts_us").agg(max("event_id").as("v_id"))
        .select(col("user_id").as("v_user"), col("ts_us").as("v_ts_us"),
          col("v_id"))
      graft.plans.AsofMergeJoin.asofJoin(purchases, views,
          keys = Seq("user_id"), leftTs = "ts_us", rightTs = "v_ts_us",
          rightKeys = Seq("v_user"))
        .select(col("event_id").as("purchase_id"), col("user_id"),
          when(col("ts_us") - col("v_ts_us") <= tolUs, col("v_id"))
            .as("view_id"),
          when(col("ts_us") - col("v_ts_us") <= tolUs,
            expr("CAST((ts_us - v_ts_us) div 1000000 AS BIGINT)"))
            .as("gap_s"))
        .orderBy("purchase_id")
    },

    // ---- approx_count_distinct with a hash-checked error contract ----
    // HLL sketches differ between engines, so the approximate VALUE
    // can't be oracle-compared — but its accuracy contract can: the
    // query emits the exact count (oracle-recomputed) plus a flag
    // asserting the sketch landed within 5% of it (HLL++ at rsd=0.02
    // gives ~2.5σ of margin; deterministic for fixed data). This is
    // the declared form of SURVEY A2's scale option: at 100 TB the
    // sketch replaces the exact distinct's second shuffle entirely.
    QueryDef("e7_approx_distinct",
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_users_exact, TRUE AS within_5pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_users_exact"),
          approx_count_distinct(col("user_id"), 0.02).as("n_approx"))
        .select(col("event_type"), col("n_users_exact"),
          (abs(col("n_approx") - col("n_users_exact")).cast("double") /
            col("n_users_exact") <= 0.05).as("within_5pct"))
        .orderBy("event_type")
    },

    // ---- latest-version-per-key (SCD-style upsert compaction) ----
    // The canonical "keep newest record per key" pipeline op: one hash
    // shuffle on the key, per-partition sort, rank-1 filter — the
    // scalable compaction shape (no global sort; Spark plans a
    // WindowExec after a single hashpartitioning exchange). Ordering
    // uses raw nanosecond ts on BOTH sides (DuckDB reads the column as
    // TIMESTAMP_NS, so ns order is identical), event_id breaks ties.
    QueryDef("e8_latest_per_key",
      """SELECT user_id, event_type, event_id,
        |  epoch_ns(ts) // 1000 AS ts_us, value
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |        ORDER BY ts DESC, event_id DESC) AS rn FROM events)
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables.events(s, dir)
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("event_id"),
          expr("ts div 1000").as("ts_us"), col("value"))
        .orderBy("user_id", "event_type")
    },

    // ---- ordered funnel (view → click → purchase) ----
    // Step-conversion via conditional min-timestamps: ONE aggregation
    // collapses each user to first-touch times per step, a second
    // (driver-sized, single row) counts users whose steps are in
    // strict time order. This is the scalable funnel form — two
    // partial-aggregated passes, no per-step self-joins (k-step
    // funnels as k-way joins re-shuffle the event table k times).
    // ts stays raw nanoseconds on both sides: DuckDB reads the same
    // parquet as TIMESTAMP_NS, so strict < comparisons agree and no
    // quantization is needed (only ts *values* in output would need
    // the µs rule).
    QueryDef("e10_funnel",
      """WITH u AS (
        |  SELECT user_id,
        |    MIN(ts) FILTER (WHERE event_type = 'view') AS t_view,
        |    MIN(ts) FILTER (WHERE event_type = 'click') AS t_click,
        |    MIN(ts) FILTER (WHERE event_type = 'purchase') AS t_buy
        |  FROM events GROUP BY user_id)
        |SELECT COUNT(*) AS n_users,
        |  COUNT(t_view) AS step1_view,
        |  COUNT(CASE WHEN t_click > t_view THEN 1 END) AS step2_click,
        |  COUNT(CASE WHEN t_buy > t_click AND t_click > t_view THEN 1 END) AS step3_purchase
        |FROM u""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .groupBy("user_id")
        .agg(
          min(when(col("event_type") === "view", col("ts"))).as("t_view"),
          min(when(col("event_type") === "click", col("ts"))).as("t_click"),
          min(when(col("event_type") === "purchase", col("ts"))).as("t_buy"))
        .agg(
          count(lit(1)).as("n_users"),
          count(col("t_view")).as("step1_view"),
          count(when(col("t_click") > col("t_view"), 1)).as("step2_click"),
          count(when(col("t_buy") > col("t_click") &&
            col("t_click") > col("t_view"), 1)).as("step3_purchase"))
    },

    // ---- approx_percentile rank-error CONTRACT (e7 pattern) ----
    // The 100 TB percentile path: Greenwald-Khanna sketches merge
    // across executors in one partial-agg pass (vs q31's exact
    // per-group value digests). DuckDB cannot reproduce Spark's
    // sketch, so the oracle checks the CONTRACT instead: the returned
    // value's exact rank interval [n_lt+1, n_le] must intersect
    // p ± ε (ε = 1/accuracy = 0.01, doubled for merge slack). The
    // rank check joins the 15-row approx table back to events
    // broadcast — one more partial-agg pass, no extra shuffle of the
    // fact table.
    QueryDef("e11_pctl_contract",
      """SELECT e.event_type, CAST(t.p AS DOUBLE) AS p, TRUE AS rank_ok
        |FROM (SELECT DISTINCT event_type FROM events) e
        |CROSS JOIN (VALUES (0.25), (0.5), (0.9)) AS t(p)
        |ORDER BY event_type, p""".stripMargin) { (s, dir) =>
      val ps = Seq(0.25, 0.5, 0.9)
      val pArr = array(ps.map(lit): _*)
      val ev = Tables.events(s, dir)
      val approx = ev.groupBy("event_type")
        .agg(percentile_approx(col("value"), pArr, lit(100)).as("avs"))
        .select(col("event_type"), posexplode(col("avs")))
        .select(col("event_type"),
          element_at(pArr, col("pos") + 1).as("p"), col("col").as("av"))
      ev.join(broadcast(approx), Seq("event_type"))
        .groupBy("event_type", "p", "av")
        .agg(count(lit(1)).as("n"),
          count(when(col("value") < col("av"), 1)).as("n_lt"),
          count(when(col("value") <= col("av"), 1)).as("n_le"))
        .select(col("event_type"), col("p"),
          (col("n_lt") < (col("p") + 0.02) * col("n") &&
            col("n_le") >= (col("p") - 0.02) * col("n")).as("rank_ok"))
        .orderBy("event_type", "p")
    },

    // ---- time-series gap fill + forward fill ----
    // Densify each event type's hourly series (sequence+explode over
    // the [min,max] bucket range — generated distributed, one row per
    // type before the explode) and carry the last observed sum forward
    // across empty hours with last(ignoreNulls) — the standard
    // as-of-publication semantics for downstream feature joins. Scale
    // shape: the dense axis is |types| × hours (tiny vs the fact
    // table), the fill window partitions by type so no global sort,
    // and the left join is a hash join on (type, hour). Decimal sum
    // is filled first, cast to DOUBLE once at the end (order-safe).
    QueryDef("e12_gap_fill",
      """WITH b AS (
        |  SELECT event_type, epoch_ns(ts) // 3600000000000 AS h,
        |    COUNT(*) AS n, SUM(CAST(value AS DECIMAL(12,2))) AS sv
        |  FROM events GROUP BY 1, 2
        |), bounds AS (
        |  SELECT event_type, MIN(h) AS h0, MAX(h) AS h1 FROM b GROUP BY 1
        |), dense AS (
        |  SELECT event_type, unnest(range(h0, h1 + 1)) AS h FROM bounds
        |)
        |SELECT d.event_type, d.h AS hour_bucket,
        |  COALESCE(b.n, 0) AS n_events,
        |  CAST(last_value(b.sv IGNORE NULLS)
        |    OVER (PARTITION BY d.event_type ORDER BY d.h) AS DOUBLE) AS filled_sum
        |FROM dense d LEFT JOIN b ON d.event_type = b.event_type AND d.h = b.h
        |ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      val hourly = Tables.events(s, dir)
        .withColumn("h", expr("ts div 3600000000000"))
        .groupBy("event_type", "h")
        .agg(count(lit(1)).as("n"), sum(col("value").cast(dec12_2)).as("sv"))
      val dense = hourly.groupBy("event_type")
        .agg(min("h").as("h0"), max("h").as("h1"))
        .select(col("event_type"), explode(sequence(col("h0"), col("h1"))).as("h"))
      val w = Window.partitionBy("event_type").orderBy("h")
      dense.join(hourly, Seq("event_type", "h"), "left")
        .select(col("event_type"), col("h").as("hour_bucket"),
          coalesce(col("n"), lit(0L)).as("n_events"),
          last(col("sv"), ignoreNulls = true).over(w).cast("double").as("filled_sum"))
        .orderBy("event_type", "hour_bucket")
    },

    // ---- cohort retention matrix ----
    // Classic pipeline health view: users bucketed by first-seen day,
    // distinct actives per (cohort, day offset). Two shuffles total —
    // the first-touch aggregation and the (cohort, offset) distinct
    // count — both on keys that stay high-cardinality as the corpus
    // grows, so the shape holds at 100 TB (the user⋈first-touch join
    // co-partitions with the first aggregation's output; AQE
    // broadcasts it only when the user dim is genuinely small).
    QueryDef("e13_cohort_retention",
      """WITH f AS (
        |  SELECT user_id, MIN(epoch_ns(ts) // 86400000000000) AS d0
        |  FROM events GROUP BY user_id
        |)
        |SELECT f.d0 AS cohort_day,
        |  epoch_ns(e.ts) // 86400000000000 - f.d0 AS day_offset,
        |  COUNT(DISTINCT e.user_id) AS n_users
        |FROM events e JOIN f ON e.user_id = f.user_id
        |GROUP BY 1, 2 ORDER BY cohort_day, day_offset""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
        .withColumn("d", expr("ts div 86400000000000"))
      val first = ev.groupBy("user_id").agg(min("d").as("d0"))
      ev.join(first, Seq("user_id"))
        .groupBy(col("d0").as("cohort_day"),
          (col("d") - col("d0")).as("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy("cohort_day", "day_offset")
    },

    // ---- session Markov transition matrix (behavior mining) ----
    // First-order event-type transition model over e5's sessions: the
    // product-analytics shape behind next-step prediction, anomaly
    // scoring, and funnel discovery (and the event-domain twin of the
    // p8 bigram LM — same count/conditional-probability algebra, over
    // behavior instead of text). Transitions are consecutive events
    // within a session ONLY — the session cut (30 min idle) is what
    // separates behavioral sequences, so no cross-session or
    // cross-user pair ever forms. Both windows are user-partitioned
    // (narrow, high-cardinality key — never a global sort); the final
    // aggregate is event-type-vocabulary-sized. p_cond is one
    // bigint/bigint double division — cross-engine exact.
    QueryDef("e15_markov_transitions",
      """WITH seq AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS tus,
        |    LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_tus
        |  FROM events
        |), flagged AS (
        |  SELECT user_id, event_id, event_type, tus,
        |    CASE WHEN prev_tus IS NULL OR tus - prev_tus > 1800000000 THEN 1 ELSE 0 END AS new_session
        |  FROM seq
        |), numbered AS (
        |  SELECT user_id, event_id, event_type, tus,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY tus, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM flagged
        |), trans AS (
        |  SELECT event_type AS to_type,
        |    LAG(event_type) OVER (PARTITION BY user_id, session_id ORDER BY tus, event_id) AS from_type
        |  FROM numbered
        |)
        |SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER (PARTITION BY from_type) AS p_cond
        |FROM trans WHERE from_type IS NOT NULL
        |GROUP BY from_type, to_type
        |ORDER BY from_type, to_type""".stripMargin) { (s, dir) =>
      val byUser = Window.partitionBy("user_id")
        .orderBy(col("tus"), col("event_id"))
      val cum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val sessions = Tables.events(s, dir)
        .withColumn("tus", expr("ts div 1000"))
        .withColumn("prev_tus", lag(col("tus"), 1).over(byUser))
        .withColumn("new_session",
          when(col("prev_tus").isNull ||
            col("tus") - col("prev_tus") > 1800000000L, 1).otherwise(0))
        .withColumn("session_id", sum(col("new_session")).over(cum))
      // same user-keyed partition, finer ordering scope: the session
      // id refines the user window, so this second window reuses the
      // first's exchange (no new shuffle — both hash on user_id)
      val bySession = Window.partitionBy("user_id", "session_id")
        .orderBy(col("tus"), col("event_id"))
      sessions
        .withColumn("from_type", lag(col("event_type"), 1).over(bySession))
        .where(col("from_type").isNotNull)
        .groupBy(col("from_type"), col("event_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("p_cond", col("n").cast("double") /
          sum("n").over(Window.partitionBy("from_type")).cast("double"))
        .orderBy("from_type", "to_type")
    },

    // ---- OHLC bar resampling (time-series downsampling) ----
    // The classic irregular→regular resample: per (event_type, hour),
    // open/high/low/close of `value` plus an exact quantized sum. The
    // boundary picks (open = first, close = last in (ts, event_id)
    // order — the id tiebreak makes equal-timestamp bars
    // deterministic) come from two ROW_NUMBERs over the SAME
    // (event_type, hour) partition — one exchange, two in-partition
    // sorts — then fold into the ONE grouped aggregate via
    // conditional MAX; deliberately NOT min_by/max_by, whose
    // composite-key tiebreak semantics differ across engines. OHLC
    // values are raw doubles (selection, no arithmetic); the only
    // aggregated quantity routes through floor(value·10⁶) bigints —
    // IEEE-exact on both engines. Bars are (type × hour)-sized:
    // aggregate-shaped output however large the event stream.
    QueryDef("e16_ohlc_bars",
      """WITH e AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS hour,
        |    epoch_us(ts) AS tus, event_id, value
        |  FROM events
        |), r AS (
        |  SELECT event_type, hour, value,
        |    ROW_NUMBER() OVER (PARTITION BY event_type, hour ORDER BY tus, event_id) AS rn_a,
        |    ROW_NUMBER() OVER (PARTITION BY event_type, hour ORDER BY tus DESC, event_id DESC) AS rn_d
        |  FROM e
        |)
        |SELECT event_type, CAST(hour AS BIGINT) AS hour,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
        |  MAX(value) AS high, MIN(value) AS low,
        |  MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
        |  CAST(SUM(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS sum_q
        |FROM r GROUP BY event_type, hour
        |ORDER BY event_type, hour""".stripMargin) { (s, dir) =>
      val e = Tables.events(s, dir)
        .withColumn("tus", expr("ts div 1000"))
        .withColumn("hour", expr("(ts div 1000) div 3600000000"))
      val byBarAsc = Window.partitionBy("event_type", "hour")
        .orderBy(col("tus").asc, col("event_id").asc)
      val byBarDesc = Window.partitionBy("event_type", "hour")
        .orderBy(col("tus").desc, col("event_id").desc)
      e.withColumn("rn_a", row_number().over(byBarAsc))
        .withColumn("rn_d", row_number().over(byBarDesc))
        .groupBy("event_type", "hour")
        .agg(count(lit(1)).as("n_events"),
          max(when(col("rn_a") === 1, col("value"))).as("open"),
          max(col("value")).as("high"), min(col("value")).as("low"),
          max(when(col("rn_d") === 1, col("value"))).as("close"),
          sum(expr("CAST(floor(value * 1000000) AS BIGINT)")).cast("long")
            .as("sum_q"))
        .select(col("event_type"), col("hour").cast("long").as("hour"),
          col("n_events"), col("open"), col("high"), col("low"),
          col("close"), col("sum_q"))
        .orderBy("event_type", "hour")
    },

    // ---- first/last-touch revenue attribution over sessions ----
    // The marketing-analytics classic on top of e5's sessionization:
    // each purchase's value is credited (a) to the channel (event
    // type) of the session's FIRST event — first-touch — and (b) to
    // the last NON-purchase channel strictly before the purchase in
    // the same session — last-touch, 'direct' when the purchase opens
    // its session. Both models emit per-channel purchase counts and
    // revenue (quantized cents: floor(value*100) longs, e16's exact-
    // sum discipline — double SUM order-determinism is not portable).
    // Plan shape: ONE event-stream exchange on user_id for the
    // lag/cumsum session pass, then one on (user_id, session_id) for
    // the in-session windows — both user-keyed, skew-free (sessions
    // are bounded); the credited rows are purchase-count-sized before
    // the tiny channel×model rollup. IGNORE NULLS last_value gives
    // the "last non-purchase before me" lookback without a self-join.
    QueryDef("e17_attribution",
      """WITH seq AS (
        |  SELECT user_id, event_id, event_type,
        |    CAST(floor(value * 100) AS BIGINT) AS v_cents, epoch_us(ts) AS tus,
        |    LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_tus
        |  FROM events
        |), numbered AS (
        |  SELECT user_id, event_id, event_type, v_cents, tus,
        |    SUM(CASE WHEN prev_tus IS NULL OR tus - prev_tus > 1800000000 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY tus, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM seq
        |), touched AS (
        |  SELECT user_id, event_type, v_cents,
        |    FIRST_VALUE(event_type) OVER (PARTITION BY user_id, session_id
        |      ORDER BY tus, event_id) AS ft,
        |    COALESCE(LAST_VALUE(CASE WHEN event_type != 'purchase' THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id, session_id ORDER BY tus, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 'direct') AS lt
        |  FROM numbered
        |)
        |SELECT model, channel, CAST(COUNT(*) AS BIGINT) AS n_purchases,
        |  CAST(SUM(v_cents) AS BIGINT) AS rev_cents
        |FROM (
        |  SELECT 'first_touch' AS model, ft AS channel, v_cents FROM touched
        |  WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT 'last_touch', lt, v_cents FROM touched
        |  WHERE event_type = 'purchase')
        |GROUP BY model, channel ORDER BY model, channel""".stripMargin) { (s, dir) =>
      val byUser = Window.partitionBy("user_id").orderBy(col("tus"), col("event_id"))
      val cum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val sess = Window.partitionBy("user_id", "session_id")
        .orderBy(col("tus"), col("event_id"))
      val numbered = Tables.events(s, dir)
        .withColumn("tus", expr("ts div 1000"))
        .withColumn("v_cents", expr("CAST(floor(value * 100) AS BIGINT)"))
        .withColumn("prev_tus", lag(col("tus"), 1).over(byUser))
        .withColumn("new_session",
          when(col("prev_tus").isNull ||
            col("tus") - col("prev_tus") > 1800000000L, 1).otherwise(0))
        .withColumn("session_id", sum(col("new_session")).over(cum))
      val touched = numbered
        .withColumn("ft", first(col("event_type")).over(sess))
        .withColumn("lt", coalesce(
          last(when(col("event_type") =!= "purchase", col("event_type")), ignoreNulls = true)
            .over(sess.rowsBetween(Window.unboundedPreceding, -1)),
          lit("direct")))
        .where(col("event_type") === "purchase")
      touched
        .select(explode(array(
          struct(lit("first_touch").as("model"), col("ft").as("channel")),
          struct(lit("last_touch").as("model"), col("lt").as("channel")))).as("mc"),
          col("v_cents"))
        .groupBy(col("mc.model").as("model"), col("mc.channel").as("channel"))
        .agg(count(lit(1)).as("n_purchases"),
          sum("v_cents").cast("long").as("rev_cents"))
        .orderBy("model", "channel")
    },

    // ---- rolling z-score anomaly detection (integer-exact) ----
    // Streaming-telemetry classic: flag events whose value deviates
    // > 3σ from the trailing window of the SAME event type. The
    // entire test is integer arithmetic: with S = Σv, S2 = Σv² over
    // the 50 preceding cents-quantized values,
    //   |v − S/n| > 3·σ  ⇔  (n·v − S)² > 9·(n·S2 − S²)
    // — both sides exact BIGINTs (v ≤ ~10⁴ cents, n ≤ 50 keeps every
    // product far under 2⁶³), so no float sqrt/mean ever enters the
    // comparison and the flag is bit-identical across engines and
    // partitionings. A minimum of 20 trailing samples gates the
    // cold start. Plan shape (r13): the naive PARTITION BY event_type
    // window caps parallelism at the series count (5 sequential
    // sorted streams — a 100x scale-up is a 100x wall-clock), so the
    // trailing stats come from ChunkedWindow.trailingStats: 4-hour
    // time buckets give ~180 chunks per series computed in parallel,
    // with the <=50-row chunk boundaries patched exactly from
    // bucket-tail arrays (see operators/ChunkedWindow.scala for the
    // contiguity proof). Still ONE fact-sized exchange; the flag
    // filter runs scan-side; output is anomaly-sized.
    QueryDef("e18_anomaly_zscore",
      """WITH seq AS (
        |  SELECT event_id, event_type, epoch_us(ts) AS tus,
        |    CAST(floor(value * 100) AS BIGINT) AS v
        |  FROM events
        |), win AS (
        |  SELECT event_id, event_type, v,
        |    COUNT(*) OVER w AS n,
        |    COALESCE(SUM(v) OVER w, 0) AS s,
        |    COALESCE(SUM(v * v) OVER w, 0) AS s2
        |  FROM seq
        |  WINDOW w AS (PARTITION BY event_type ORDER BY tus, event_id
        |    ROWS BETWEEN 50 PRECEDING AND 1 PRECEDING)
        |)
        |SELECT event_id, event_type, v, CAST(n AS BIGINT) AS win_n,
        |  CAST((n * v - s) * (n * v - s) AS BIGINT) AS dev2,
        |  CAST(9 * (n * s2 - s * s) AS BIGINT) AS thr2
        |FROM win
        |WHERE n >= 20 AND (n * v - s) * (n * v - s) > 9 * (n * s2 - s * s)
        |ORDER BY event_id""".stripMargin) { (s, dir) =>
      val seq = Tables.events(s, dir)
        .select(col("event_id"), col("event_type"),
          expr("ts div 1000").as("tus"),
          expr("CAST(floor(value * 100) AS BIGINT)").as("v"))
      graft.operators.ChunkedWindow
        .trailingStats(seq, "event_type", "tus", "event_id", "v",
          frame = 50, bucketWidth = 4L * 3600L * 1000000L)
        .where(col("n") >= 20 &&
          (col("n") * col("v") - col("s")) * (col("n") * col("v") - col("s")) >
            lit(9L) * (col("n") * col("s2") - col("s") * col("s")))
        .select(col("event_id"), col("event_type"), col("v"),
          col("n").cast("long").as("win_n"),
          ((col("n") * col("v") - col("s")) * (col("n") * col("v") - col("s"))).as("dev2"),
          (lit(9L) * (col("n") * col("s2") - col("s") * col("s"))).as("thr2"))
        .orderBy("event_id")
    },

    // ---- RFM user segmentation (recency / frequency / monetary) ----
    // The classic behavioral scoring op: per-user recency (latest
    // event µs), frequency (event count), monetary (cent-quantized
    // value sum), each scored 1–5 against the GLOBAL quintile
    // thresholds. Scale shape: one user-keyed aggregate over the
    // fact table, then the 12 thresholds ride in as a 1-ROW scalar
    // broadcast (the benign PLANAUDIT class — p9/p15's shape) and
    // scoring is a codegen'd comparison per user — NO global
    // sort/ntile over the user table, which would be the
    // single-partition window a billion-user run cannot survive.
    // Cross-engine exactness: all three metric domains are integral
    // (µs bigint, count, cents), where Spark `percentile` and DuckDB
    // `quantile_cont` interpolate to identical doubles (q31's proven
    // contract); scores count strict threshold exceedances.
    QueryDef("e19_rfm_scores",
      """WITH per AS (
        |  SELECT user_id, MAX(epoch_us(ts)) AS r_ts,
        |    CAST(COUNT(*) AS BIGINT) AS f,
        |    CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS m_q
        |  FROM events GROUP BY user_id
        |), th AS (
        |  SELECT
        |    quantile_cont(r_ts, 0.2) AS r1, quantile_cont(r_ts, 0.4) AS r2,
        |    quantile_cont(r_ts, 0.6) AS r3, quantile_cont(r_ts, 0.8) AS r4,
        |    quantile_cont(f, 0.2) AS f1, quantile_cont(f, 0.4) AS f2,
        |    quantile_cont(f, 0.6) AS f3, quantile_cont(f, 0.8) AS f4,
        |    quantile_cont(m_q, 0.2) AS m1, quantile_cont(m_q, 0.4) AS m2,
        |    quantile_cont(m_q, 0.6) AS m3, quantile_cont(m_q, 0.8) AS m4
        |  FROM per
        |)
        |SELECT user_id,
        |  CAST(1 + (CASE WHEN r_ts > r1 THEN 1 ELSE 0 END) + (CASE WHEN r_ts > r2 THEN 1 ELSE 0 END)
        |         + (CASE WHEN r_ts > r3 THEN 1 ELSE 0 END) + (CASE WHEN r_ts > r4 THEN 1 ELSE 0 END) AS BIGINT) AS r_score,
        |  CAST(1 + (CASE WHEN f > f1 THEN 1 ELSE 0 END) + (CASE WHEN f > f2 THEN 1 ELSE 0 END)
        |         + (CASE WHEN f > f3 THEN 1 ELSE 0 END) + (CASE WHEN f > f4 THEN 1 ELSE 0 END) AS BIGINT) AS f_score,
        |  CAST(1 + (CASE WHEN m_q > m1 THEN 1 ELSE 0 END) + (CASE WHEN m_q > m2 THEN 1 ELSE 0 END)
        |         + (CASE WHEN m_q > m3 THEN 1 ELSE 0 END) + (CASE WHEN m_q > m4 THEN 1 ELSE 0 END) AS BIGINT) AS m_score
        |FROM per, th ORDER BY user_id""".stripMargin) { (s, dir) =>
      def score(m: Column, ts: Seq[String]): Column =
        ts.foldLeft(lit(1L)) { (acc, t) =>
          acc + when(m > col(t), 1L).otherwise(0L)
        }
      val per = Tables.events(s, dir)
        .groupBy("user_id")
        .agg(max(expr("ts div 1000")).as("r_ts"),
          count(lit(1)).as("f"),
          sum(expr("CAST(floor(value * 100) AS BIGINT)")).as("m_q"))
      val th = per.agg(
        expr("percentile(r_ts, 0.2)").as("r1"), expr("percentile(r_ts, 0.4)").as("r2"),
        expr("percentile(r_ts, 0.6)").as("r3"), expr("percentile(r_ts, 0.8)").as("r4"),
        expr("percentile(f, 0.2)").as("f1"), expr("percentile(f, 0.4)").as("f2"),
        expr("percentile(f, 0.6)").as("f3"), expr("percentile(f, 0.8)").as("f4"),
        expr("percentile(m_q, 0.2)").as("m1"), expr("percentile(m_q, 0.4)").as("m2"),
        expr("percentile(m_q, 0.6)").as("m3"), expr("percentile(m_q, 0.8)").as("m4"))
      per.crossJoin(broadcast(th))
        .select(col("user_id"),
          score(col("r_ts"), Seq("r1", "r2", "r3", "r4")).as("r_score"),
          score(col("f"), Seq("f1", "f2", "f3", "f4")).as("f_score"),
          score(col("m_q"), Seq("m1", "m2", "m3", "m4")).as("m_score"))
        .orderBy("user_id")
    },

    // ---- per-window top-k (hourly leading event types) ----
    // The windowed-heavy-hitters report: top-3 event types per hour
    // by exact count, dense_rank ties kept. One (hour, type) hash
    // aggregate (map-side combined), then a rank window PARTITIONED
    // BY the hour bucket — partitions are bounded by the per-hour
    // type cardinality, never fact-sized, so the sort inside each is
    // trivial at any scale (contrast q19's dispositioned global
    // funnel). Exact counts; p9/e7 are the sketch alternatives when
    // the per-window key domain explodes.
    QueryDef("e20_hourly_top_events",
      """WITH c AS (
        |  SELECT epoch_ns(ts) // 3600000000000 AS hour_bucket, event_type,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2
        |), r AS (
        |  SELECT hour_bucket, event_type, n,
        |    CAST(dense_rank() OVER (PARTITION BY hour_bucket
        |      ORDER BY n DESC, event_type) AS BIGINT) AS rnk
        |  FROM c
        |)
        |SELECT hour_bucket, event_type, n, rnk
        |FROM r WHERE rnk <= 3
        |ORDER BY hour_bucket, rnk, event_type""".stripMargin) { (s, dir) =>
      val c = Tables.events(s, dir)
        .groupBy(expr("ts div 3600000000000").as("hour_bucket"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("hour_bucket")
        .orderBy(col("n").desc, col("event_type"))
      c.withColumn("rnk", dense_rank().over(w).cast("long"))
        .where(col("rnk") <= 3)
        .orderBy("hour_bucket", "rnk", "event_type")
    },

    // ---- recency-decayed engagement score (feature-store classic) ----
    // Per-user engagement where each event's value decays with a
    // 2-day half-life relative to a fixed as-of anchor — the standard
    // recency feature a ranking model consumes. Exactness: the decay
    // is a RIGHT SHIFT of the ×1000-quantized value by age_days/2
    // (values and ages non-negative per the fixture contract, so >>
    // equals floor division in both engines — no pow()/double drift);
    // the anchor is a literal, so there is no max(ts) scalar job.
    // Scale shape: ONE user-keyed hash aggregate over a projected
    // scan (map-side combined) + TakeOrdered top-50 — the cheapest
    // possible plan; the decay arithmetic is codegen'd scan-side.
    QueryDef("e21_decay_engagement",
      """WITH e AS (
        |  SELECT user_id,
        |    CAST(floor(value * 1000) AS BIGINT) AS vq,
        |    GREATEST((1706745600000000 - epoch_us(ts)) // 86400000000, 0) AS age_days
        |  FROM events
        |)
        |SELECT user_id,
        |  CAST(SUM(vq >> CAST(age_days // 2 AS INTEGER)) AS BIGINT) AS decay_q,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(MIN(age_days) AS BIGINT) AS last_age_days
        |FROM e GROUP BY user_id
        |ORDER BY decay_q DESC, user_id LIMIT 50""".stripMargin) { (s, dir) =>
      // age clamped at 0: a post-anchor event
      // counts undecayed instead of hitting shiftright's masked (n&63)
      // negative-shift garbage (fixture events are all pre-anchor, so
      // this is contract hardening, not a result change)
      Tables.events(s, dir)
        .select(col("user_id"),
          expr("CAST(floor(value * 1000) AS BIGINT)").as("vq"),
          greatest(expr("(1706745600000000 - (ts div 1000)) div 86400000000"),
            lit(0L)).as("age_days"))
        .groupBy("user_id")
        .agg(sum(expr("shiftright(vq, CAST(age_days div 2 AS INT))"))
            .cast("long").as("decay_q"),
          count(lit(1)).as("n_events"),
          min(col("age_days")).cast("long").as("last_age_days"))
        .orderBy(col("decay_q").desc, col("user_id"))
        .limit(50)
    },

    // ---- inter-arrival time distribution (burstiness profile) ----
    // Order-of-magnitude histogram of the gap between consecutive
    // events of the same (user, type) stream — the ops-side "is this
    // feed bursty or steady" profile, and the sanity input to e5's
    // session-gap threshold. The LAG window partitions by
    // (user_id, event_type) — per-partition rows stay per-user-sized
    // at any scale (e5's exact partitioning contract), never the
    // bounded-cardinality event_type alone. The bucket is the DIGIT
    // COUNT of the microsecond gap (length of its decimal rendering)
    // — integer-exact in both engines, no log2()/double boundary
    // drift at bucket edges.
    QueryDef("e22_interarrival_hist",
      """WITH g AS (
        |  SELECT event_type, user_id, epoch_us(ts) AS tus, event_id,
        |    LAG(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
        |      ORDER BY epoch_us(ts), event_id) AS prev
        |  FROM events
        |)
        |SELECT event_type,
        |  CAST(length(CAST(tus - prev AS VARCHAR)) AS BIGINT) AS gap_digits,
        |  CAST(COUNT(*) AS BIGINT) AS n_gaps,
        |  CAST(MIN(tus - prev) AS BIGINT) AS min_gap_us,
        |  CAST(MAX(tus - prev) AS BIGINT) AS max_gap_us
        |FROM g WHERE prev IS NOT NULL
        |GROUP BY 1, 2 ORDER BY event_type, gap_digits""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("tus"), col("event_id"))
      Tables.events(s, dir)
        .select(col("event_type"), col("user_id"),
          expr("ts div 1000").as("tus"), col("event_id"))
        .withColumn("prev", lag(col("tus"), 1).over(w))
        .where(col("prev").isNotNull)
        .withColumn("gap", col("tus") - col("prev"))
        .groupBy(col("event_type"),
          length(col("gap").cast("string")).cast("long").as("gap_digits"))
        .agg(count(lit(1)).as("n_gaps"),
          min(col("gap")).cast("long").as("min_gap_us"),
          max(col("gap")).cast("long").as("max_gap_us"))
        .orderBy("event_type", "gap_digits")
    },

    // ---- weekly cohort retention matrix ----
    // The classic growth-analytics triangle: users cohorted by their
    // FIRST active week (absolute epoch-week index — no calendar/tz
    // functions, identical in both engines), one row per (cohort,
    // week offset) counting distinct still-active users, plus
    // retention in basis points of the cohort's own week-0 size.
    // Scale shape: two user-keyed hash aggregates (first-week, then
    // per-(user, cohort, offset) distinct) and one cohort-keyed count;
    // the week-0 base is a cohort-dim-sized broadcast back-join —
    // no windows, no fact-sized funnel.
    QueryDef("e23_cohort_retention",
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) // 604800000000 AS wk FROM events
        |), coh AS (
        |  SELECT user_id, MIN(wk) AS cw FROM e GROUP BY user_id
        |), act AS (
        |  SELECT DISTINCT e.user_id, c.cw, e.wk - c.cw AS off
        |  FROM e JOIN coh c ON e.user_id = c.user_id
        |), ret AS (
        |  SELECT cw, off, COUNT(*) AS n_users FROM act GROUP BY cw, off
        |), base AS (
        |  SELECT cw, n_users AS n0 FROM ret WHERE off = 0
        |)
        |SELECT CAST(r.cw AS BIGINT) AS cohort_week,
        |  CAST(r.off AS BIGINT) AS week_offset,
        |  CAST(r.n_users AS BIGINT) AS n_users,
        |  CAST((10000 * r.n_users) // b.n0 AS BIGINT) AS retention_bp
        |FROM ret r JOIN base b ON r.cw = b.cw
        |ORDER BY cohort_week, week_offset""".stripMargin) { (s, dir) =>
      val e = Tables.events(s, dir)
        .select(col("user_id"), expr("(ts div 1000) div 604800000000").as("wk"))
      val coh = e.groupBy("user_id").agg(min("wk").as("cw"))
      val act = e.join(coh, Seq("user_id"))
        .select(col("user_id"), col("cw"), (col("wk") - col("cw")).as("off"))
        .distinct()
      val ret = act.groupBy("cw", "off").agg(count(lit(1)).as("n_users"))
      val base = ret.where(col("off") === 0)
        .select(col("cw"), col("n_users").as("n0"))
      ret.join(broadcast(base), Seq("cw"))
        .select(col("cw").as("cohort_week"), col("off").as("week_offset"),
          col("n_users"), expr("(10000 * n_users) div n0").as("retention_bp"))
        .orderBy("cohort_week", "week_offset")
    },

    // ---- e24: interval-overlap join on a time GRID. The inequality
    // join ("interval overlaps window") that Spark would otherwise
    // plan as a broadcast nested loop is re-expressed as an
    // EQUI-join: each per-(user, day) activity interval explodes to
    // the hour buckets it covers (`sequence` — ≤ 25 rows per
    // interval, bounded by the day), busy hours join on the bucket
    // key, and because hourly windows align to the grid, every
    // covered bucket overlaps exactly — no residual inequality at
    // all. At 100 TB the fan-out is rows × hours-per-interval and
    // the join shuffles on a dense integer key; the nested-loop
    // alternative is rows × windows. "Busy" is a relative threshold
    // (≥ 1.2× the mean hourly event count; the 1-row global aggregate
    // is a driver-side control-plane collect, the PageRank-probe
    // pattern). Output: the distribution of busy-hour exposure per
    // user-day — user-days overlapping NO busy hour drop out (join
    // semantics, both engines).
    QueryDef("e24_interval_join",
      """WITH hourly AS (
        |  SELECT epoch_ns(ts) // 3600000000000 AS h, COUNT(*) AS n
        |  FROM events GROUP BY 1
        |), tot AS (
        |  SELECT SUM(n) AS total, COUNT(*) AS n_hours FROM hourly
        |), busy AS (
        |  SELECT h FROM hourly, tot WHERE n * n_hours * 5 >= total * 6
        |), ui AS (
        |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS day,
        |    MIN(epoch_ns(ts)) AS lo, MAX(epoch_ns(ts)) AS hi
        |  FROM events GROUP BY 1, 2
        |), pairs AS (
        |  SELECT ui.user_id, ui.day FROM ui JOIN busy
        |  ON busy.h BETWEEN ui.lo // 3600000000000
        |               AND ui.hi // 3600000000000
        |), perday AS (
        |  SELECT user_id, day, COUNT(*) AS cnt FROM pairs GROUP BY 1, 2
        |)
        |SELECT CAST(cnt AS BIGINT) AS n_busy_hours,
        |  CAST(COUNT(*) AS BIGINT) AS n_user_days
        |FROM perday GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val H = 3600000000000L
      val D = 86400000000000L
      val ev = Tables.events(s, dir).select(col("user_id"), col("ts"))
      val hourly = ev.groupBy(expr(s"ts div $H").as("h"))
        .agg(count(lit(1)).as("n"))
      // control-plane: one global (total, n_hours) row for the
      // relative threshold — avoids a 1-row broadcast nested loop
      val totRow = hourly.agg(sum("n"), count(lit(1))).head
      val (total, nHours) = (totRow.getLong(0), totRow.getLong(1))
      val busy = hourly
        .where(col("n") * lit(nHours) * lit(5L) >= lit(total * 6L))
        .select("h")
      val ui = ev.groupBy(col("user_id"), expr(s"ts div $D").as("day"))
        .agg(min("ts").as("lo"), max("ts").as("hi"))
      val pairs = ui
        .withColumn("h",
          explode(sequence(expr(s"lo div $H"), expr(s"hi div $H"))))
        .join(busy, Seq("h"))
      pairs.groupBy("user_id", "day").agg(count(lit(1)).as("cnt"))
        .groupBy(col("cnt").as("n_busy_hours"))
        .agg(count(lit(1)).as("n_user_days"))
        .orderBy("n_busy_hours")
    },

    // ---- e26: gap-bounded strict-sequence funnel (windowed) ----
    // The funnel e10's first-touch form cannot express: a user
    // completes iff ANY ordered view < click < purchase exists with
    // each gap ≤ 3 days — first-touch misses a later qualifying click
    // when the earliest click precedes the earliest view, and an
    // unbounded funnel can't ask "within the window". Two RANGE-frame
    // window passes over the per-user event stream solve existence
    // exactly: vprev = latest view in [t−W, t−1] marks qualifying
    // clicks, qcprev = latest qualifying click in the same frame marks
    // completing purchases; existence aggregates per user. Both
    // windows share one (user-partitioned) exchange+sort — per-user
    // partitions, never a global window, the e5/e22 partitioning
    // contract. Integer microsecond frames, no timestamp arithmetic
    // drift.
    QueryDef("e26_windowed_funnel",
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS tus FROM events
        |), e1 AS (
        |  SELECT *, MAX(CASE WHEN event_type = 'view' THEN tus END) OVER (
        |    PARTITION BY user_id ORDER BY tus
        |    RANGE BETWEEN 259200000000 PRECEDING AND 1 PRECEDING) AS vprev
        |  FROM e
        |), e2 AS (
        |  SELECT *, MAX(CASE WHEN event_type = 'click' AND vprev IS NOT NULL
        |                     THEN tus END) OVER (
        |    PARTITION BY user_id ORDER BY tus
        |    RANGE BETWEEN 259200000000 PRECEDING AND 1 PRECEDING) AS qcprev
        |  FROM e1
        |), u AS (
        |  SELECT user_id,
        |    MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS has_view,
        |    MAX(CASE WHEN event_type = 'click' AND vprev IS NOT NULL THEN 1 ELSE 0 END) AS has_qc,
        |    MAX(CASE WHEN event_type = 'purchase' AND qcprev IS NOT NULL THEN 1 ELSE 0 END) AS has_funnel
        |  FROM e2 GROUP BY user_id
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
        |  CAST(SUM(has_view) AS BIGINT) AS view_users,
        |  CAST(SUM(has_qc) AS BIGINT) AS qualified_click_users,
        |  CAST(SUM(has_funnel) AS BIGINT) AS funnel_users
        |FROM u""".stripMargin) { (s, dir) =>
      val W = 259200000000L // 3 days in microseconds
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), expr("ts div 1000").as("tus"))
      val w = Window.partitionBy("user_id").orderBy("tus").rangeBetween(-W, -1)
      val e2 = ev
        .withColumn("vprev",
          max(when(col("event_type") === "view", col("tus"))).over(w))
        .withColumn("qcprev",
          max(when(col("event_type") === "click" && col("vprev").isNotNull,
            col("tus"))).over(w))
      e2.groupBy("user_id")
        .agg(
          max(when(col("event_type") === "view", 1).otherwise(0)).as("has_view"),
          max(when(col("event_type") === "click" && col("vprev").isNotNull, 1)
            .otherwise(0)).as("has_qc"),
          max(when(col("event_type") === "purchase" && col("qcprev").isNotNull, 1)
            .otherwise(0)).as("has_funnel"))
        .agg(count(lit(1)).as("n_users"),
          sum("has_view").cast("long").as("view_users"),
          sum("has_qc").cast("long").as("qualified_click_users"),
          sum("has_funnel").cast("long").as("funnel_users"))
    },

    // ---- e25: signup→purchase conversion latency (survival shape) ----
    // Time-to-convert: each signed-up user's FIRST signup, their FIRST
    // purchase STRICTLY after it, the latency distribution bucketed by
    // microsecond digit count (e22's integer-exact bucket discipline —
    // no log()/double boundary drift), plus the never-converted cohort
    // as the lat_digits = -1 row. Scale shape: two user-keyed hash
    // aggregates and one user-keyed left join — the same key end to
    // end, so AQE coalesces to ONE shuffle lineage; no windows, no
    // fact-sized sort. The strictly-after predicate rides the join
    // (p0 > s0 evaluated post-aggregation on user-dim-sized inputs).
    QueryDef("e25_conversion_latency",
      """WITH su AS (
        |  SELECT user_id, MIN(epoch_us(ts)) AS s0 FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id
        |), pu AS (
        |  SELECT user_id, MIN(epoch_us(ts)) AS p0 FROM events
        |  WHERE event_type = 'purchase' GROUP BY user_id
        |), lat AS (
        |  SELECT su.user_id,
        |    CASE WHEN pu.p0 > su.s0 THEN pu.p0 - su.s0 END AS lat_us
        |  FROM su LEFT JOIN pu ON su.user_id = pu.user_id
        |)
        |SELECT
        |  CAST(CASE WHEN lat_us IS NULL THEN -1
        |       ELSE length(CAST(lat_us AS VARCHAR)) END AS BIGINT) AS lat_digits,
        |  CAST(COUNT(*) AS BIGINT) AS n_users,
        |  CAST(COALESCE(MIN(lat_us), 0) AS BIGINT) AS min_lat_us,
        |  CAST(COALESCE(MAX(lat_us), 0) AS BIGINT) AS max_lat_us
        |FROM lat GROUP BY 1 ORDER BY lat_digits""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), expr("ts div 1000").as("tus"))
      val su = ev.where(col("event_type") === "signup")
        .groupBy("user_id").agg(min("tus").as("s0"))
      val pu = ev.where(col("event_type") === "purchase")
        .groupBy("user_id").agg(min("tus").as("p0"))
      su.join(pu, Seq("user_id"), "left")
        .withColumn("lat_us", when(col("p0") > col("s0"), col("p0") - col("s0")))
        .groupBy(when(col("lat_us").isNull, lit(-1L))
          .otherwise(length(col("lat_us").cast("string")).cast("long"))
          .as("lat_digits"))
        .agg(count(lit(1)).as("n_users"),
          coalesce(min("lat_us"), lit(0L)).cast("long").as("min_lat_us"),
          coalesce(max("lat_us"), lit(0L)).cast("long").as("max_lat_us"))
        .orderBy("lat_digits")
    },

    // ---- per-user trailing MEDIAN (robust rolling statistic) ----
    // e18's z-score flags spikes against a trailing MEAN — one wild
    // value poisons the baseline. The robust twin: the trailing
    // 5-event MEDIAN of spend per user, discrete (quantile_disc picks
    // an ELEMENT — a bit-identical double on both engines, no
    // interpolated average to drift). Spark has no windowed
    // percentile, so the bounded frame is reified scan-side:
    // collect_list over ROWS 4 PRECEDING, array_sort, pick element
    // (n+1) div 2 — O(frame) per row, O(frame·log frame) compare
    // cost, state bounded by the 5-row frame. Scale shape: ONE
    // user-keyed window sort (parallelism = #users, frame bounded) +
    // a user-keyed reaggregate on the same key — AQE sees one
    // exchange lineage. Output is the per-user robust profile.
    QueryDef("e29_rolling_median",
      """WITH rm AS (
        |  SELECT user_id, event_id,
        |    quantile_disc(value, 0.5) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS roll_med
        |  FROM events)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  arg_max(roll_med, event_id) AS last_med,
        |  MAX(roll_med) AS max_med
        |FROM rm GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id")).rowsBetween(-4, 0)
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
        .withColumn("frame", array_sort(collect_list(col("value")).over(w)))
        .withColumn("roll_med",
          expr("element_at(frame, CAST((size(frame) + 1) / 2 AS INT))"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          max_by(col("roll_med"), col("event_id")).as("last_med"),
          max(col("roll_med")).as("max_med"))
        .orderBy("user_id")
    },

    // ---- seasonal-baseline residuals (profile join-back) ----
    // e18 flags spikes against the RECENT past; this is the other
    // telemetry anomaly: a (type, day, hour) cell that deviates from
    // that type's HOUR-OF-DAY seasonal profile ("checkout traffic at
    // 3am is normally low — today it isn't"). Two aggregations share
    // one scan lineage: cell means at (type, day, hour), the profile
    // at (type, hour) — the profile is control-plane-sized
    // (types × 24) and broadcast back onto the cells. The deviation
    // test never leaves EXACT integer arithmetic (v7's cross-product
    // discipline):
    //   mean_cell > 1.5·mean_prof  ⇔  2·sum_c·n_p > 3·sum_p·n_c
    //   mean_cell < 0.5·mean_prof  ⇔  2·sum_c·n_p < sum_p·n_c
    // The Spark side evaluates the cross-products in DECIMAL(38,0)
    // (r15, ADVICE): BIGINT holds them at sf1 (< 2⁶³ with 10⁵×
    // headroom — the oracle keeps that form) but a 100 TB corpus
    // pushes sum_c toward 10¹⁸ and n_p toward 10¹³, where 2·sum_c·n_p
    // wraps silently; the decimal products stay ≤ ~10³² ≪ 10³⁸, exact
    // at any realistic scale, and cost nothing — they run on the
    // aggregated cell table, not the fact scan. Output: per-type
    // seasonal scorecard. At 100 TB the fact-sized work is the one
    // (type, day, hour) groupBy.
    QueryDef("e30_seasonal_baseline",
      """WITH ev AS (
        |  SELECT event_type,
        |    CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
        |    CAST((epoch_us(ts) // 3600000000) % 24 AS BIGINT) AS hour,
        |    CAST(floor(value * 100) AS BIGINT) AS cents
        |  FROM events
        |), cell AS (
        |  SELECT event_type, day, hour, CAST(COUNT(*) AS BIGINT) AS n_c,
        |    CAST(SUM(cents) AS BIGINT) AS sum_c
        |  FROM ev GROUP BY event_type, day, hour
        |), prof AS (
        |  SELECT event_type, hour, CAST(SUM(n_c) AS BIGINT) AS n_p,
        |    CAST(SUM(sum_c) AS BIGINT) AS sum_p
        |  FROM cell GROUP BY event_type, hour
        |)
        |SELECT c.event_type, CAST(COUNT(*) AS BIGINT) AS n_cells,
        |  CAST(SUM(CASE WHEN 2 * c.sum_c * p.n_p > 3 * p.sum_p * c.n_c
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
        |  CAST(SUM(CASE WHEN 2 * c.sum_c * p.n_p < p.sum_p * c.n_c
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
        |  CAST(MIN(c.day) AS BIGINT) AS first_day,
        |  CAST(MAX(c.day) AS BIGINT) AS last_day
        |FROM cell c JOIN prof p
        |  ON c.event_type = p.event_type AND c.hour = p.hour
        |GROUP BY c.event_type ORDER BY c.event_type""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir).select(col("event_type"),
        expr("ts div 86400000000000").as("day"),
        expr("(ts div 3600000000000) % 24").as("hour"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("cents"))
      val cell = ev.groupBy("event_type", "day", "hour")
        .agg(count(lit(1)).as("n_c"), sum("cents").cast("long").as("sum_c"))
      val prof = cell.groupBy("event_type", "hour")
        .agg(sum("n_c").cast("long").as("n_p"),
          sum("sum_c").cast("long").as("sum_p"))
      cell.join(broadcast(prof), Seq("event_type", "hour"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_cells"),
          sum(when(lit(2).cast("decimal(38,0)")
              * col("sum_c").cast("decimal(38,0)")
              * col("n_p").cast("decimal(38,0)")
            > lit(3).cast("decimal(38,0)")
              * col("sum_p").cast("decimal(38,0)")
              * col("n_c").cast("decimal(38,0)"), 1L).otherwise(0L))
            .cast("long").as("n_high"),
          sum(when(lit(2).cast("decimal(38,0)")
              * col("sum_c").cast("decimal(38,0)")
              * col("n_p").cast("decimal(38,0)")
            < col("sum_p").cast("decimal(38,0)")
              * col("n_c").cast("decimal(38,0)"), 1L).otherwise(0L))
            .cast("long").as("n_low"),
          min("day").cast("long").as("first_day"),
          max("day").cast("long").as("last_day"))
        .orderBy("event_type")
    })
}
