package graft.api.queries

import graft.api.Queries._
import graft.api.{Tables => D}
import graft.functions.FilterDsl
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational batteries beyond TPC-H: filter DSL and slicing, windows,
  * semi/anti and set operations, as-of and range joins, streaming-shaped
  * windows, sessionization, salted skew joins, and the `events` analytics.
  */
object RelationalQueries {

  /** Snapshot diff ([[graft.operators.Maintenance.diffTables]]): the CDC
    * primitive — v2 is derived in-query (every 13th doc dropped, every 7th
    * rewritten, two appended), and each key's added/removed/changed/unchanged
    * classification is gated. The diff runs on (key, md5) projections only.
    */
  private val j7SnapshotDiff = Q(
    (s, d) => {
      val v1 = D.documents(s, d).select("doc_id", "text")
      val v2 = v1.filter(col("doc_id") % 13 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" [edited v2]")))
            .otherwise(col("text")).as("text"))
        .unionByName(
          D.documents(s, d).select((col("doc_id") + 100000).as("doc_id"), col("text"))
            .filter(col("doc_id") === 100001 || col("doc_id") === 100002))
      graft.operators.Maintenance.diffTables(v1, v2, "doc_id", "text")
        .groupBy("status").agg(count(lit(1)).as("n"))
        .orderBy("status")
    },
    Some("""WITH v1 AS (SELECT doc_id, text FROM documents),
           |v2 AS (SELECT doc_id,
           |    CASE WHEN doc_id % 7 = 0 THEN text || ' [edited v2]' ELSE text END AS text
           |  FROM documents WHERE doc_id % 13 <> 0
           |  UNION ALL
           |  SELECT doc_id + 100000, text FROM documents
           |  WHERE doc_id + 100000 IN (100001, 100002)),
           |d AS (SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
           |    CASE WHEN v1.doc_id IS NULL THEN 'added'
           |         WHEN v2.doc_id IS NULL THEN 'removed'
           |         WHEN md5(v1.text) = md5(v2.text) THEN 'unchanged'
           |         ELSE 'changed' END AS status
           |  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
           |SELECT status, count(*) AS n FROM d GROUP BY status ORDER BY status""".stripMargin))

  private val w1RankWindow = Q(
    (s, d) => {
      val w = Window.partitionBy("event_type").orderBy(col("value").desc, col("event_id").asc)
      D.events(s, d)
        .select(col("event_type"), col("event_id"),
                row_number().over(w).cast("long").as("rnk"))
        .filter(col("rnk") <= 3)
        .orderBy("event_type", "rnk")
    },
    Some("""SELECT event_type, event_id, rnk FROM (
           |  SELECT event_type, event_id,
           |    row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rnk
           |  FROM events) WHERE rnk <= 3 ORDER BY event_type, rnk""".stripMargin))

  private val a4WatermarkMax = Q(
    (s, d) => D.events(s, d).agg(
      date_format(max("ts"), "yyyy-MM-dd HH:mm:ss").as("max_ts"),
      count(lit(1)).as("cnt")),
    Some("SELECT strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS max_ts, count(*) AS cnt FROM events"))

  private val p3FilterDsl = Q(
    (s, d) => {
      val docs = D.documents(s, d)
      docs.filter(FilterDsl.filterColumn("""lang = "en" and n_chars > "200"""", docs.schema))
        .select("doc_id", "lang", "n_chars").orderBy("doc_id")
    },
    Some("SELECT doc_id, lang, n_chars FROM documents WHERE lang = 'en' AND n_chars > 200 ORDER BY doc_id"))

  private val p8FetchSlice = Q(
    (s, d) => D.documents(s, d)
      .select(col("doc_id"),
              array_join(slice(split(col("text"), " "), 3, 8), " ").as("snippet"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id, array_to_string(list_slice(string_split(text, ' '), 3, 10), ' ') AS snippet
           |FROM documents ORDER BY doc_id""".stripMargin))

  /** Three-step conversion funnel (view → click within the hour → purchase
    * before the hour closes) over the events stream: per-step user counts
    * and conversion rates. Each step is a type-filtered scan (predicate
    * pushed) joined against the previous step's per-user watermark, keyed
    * on user_id throughout — the standard product-analytics min-chain
    * shape. Second-resolution timestamps via the established
    * unix_timestamp ↔ floor(epoch()) parity.
    */
  private val eventsFunnel = Q(
    (s, d) => {
      val ev = D.events(s, d).select(col("user_id"), col("event_type"),
        unix_timestamp(col("ts")).as("tsec"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("tsec").as("t1"))
      val c = ev.filter(col("event_type") === "click").join(v, "user_id")
        .filter(col("tsec") > col("t1") && col("tsec") <= col("t1") + 3600)
        .groupBy("user_id").agg(min("tsec").as("t2"), min("t1").as("t1"))
      val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
        .filter(col("tsec") > col("t2") && col("tsec") <= col("t1") + 3600)
        .groupBy("user_id").agg(min("tsec").as("t3"))
      val base = v.agg(count(lit(1)).as("n_base"))
      v.agg(count(lit(1)).as("n_users")).withColumn("step", lit("1_view"))
        .unionByName(c.agg(count(lit(1)).as("n_users")).withColumn("step", lit("2_click")))
        .unionByName(p.agg(count(lit(1)).as("n_users")).withColumn("step", lit("3_purchase")))
        .crossJoin(broadcast(base))
        .select(col("step"), col("n_users"),
          round(col("n_users") / col("n_base").cast("double"), 4).as("conv_rate"))
        .orderBy("step")
    },
    Some("""WITH ev AS (SELECT user_id, event_type,
           |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec FROM events),
           |v AS (SELECT user_id, min(tsec) AS t1 FROM ev
           |  WHERE event_type = 'view' GROUP BY user_id),
           |c AS (SELECT e.user_id, min(e.tsec) AS t2, min(v.t1) AS t1
           |  FROM ev e JOIN v ON e.user_id = v.user_id
           |  WHERE e.event_type = 'click' AND e.tsec > v.t1 AND e.tsec <= v.t1 + 3600
           |  GROUP BY e.user_id),
           |p AS (SELECT e.user_id, min(e.tsec) AS t3
           |  FROM ev e JOIN c ON e.user_id = c.user_id
           |  WHERE e.event_type = 'purchase' AND e.tsec > c.t2 AND e.tsec <= c.t1 + 3600
           |  GROUP BY e.user_id),
           |base AS (SELECT count(*) AS n_base FROM v),
           |counts AS (
           |  SELECT '1_view' AS step, count(*) AS n_users FROM v
           |  UNION ALL SELECT '2_click', count(*) FROM c
           |  UNION ALL SELECT '3_purchase', count(*) FROM p)
           |SELECT step, n_users, round(n_users / CAST(n_base AS DOUBLE), 4) AS conv_rate
           |FROM counts CROSS JOIN base ORDER BY step""".stripMargin))

  /** Segment-local customer ranking: spend quartiles and percentile ranks
    * within each nation — ntile + percent_rank over a nation-partitioned
    * window (the §2.5 ranking functions not yet exercised elsewhere).
    * Windows partition by nation, so the sort is segment-local — the
    * scale-safe way to use rank windows (a GLOBAL ntile would funnel the
    * corpus through one partition; for global cuts use
    * [[graft.operators.Sketches.histQuantiles]] thresholds instead).
    */
  private val w6NtileQuartile = Q(
    (s, d) => {
      val o = D.orders(s, d); val c = D.customer(s, d); val n = D.nation(s, d)
      val spend = o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy("n_name", "c_custkey")
        .agg(round(sum("o_totalprice"), 2).as("spend"))
      val w = Window.partitionBy("n_name")
        .orderBy(col("spend").desc, col("c_custkey"))
      spend
        .withColumn("quartile", ntile(4).over(w).cast("long"))
        .withColumn("pct_rank", round(percent_rank().over(w), 4))
        .orderBy("n_name", "c_custkey")
    },
    Some("""WITH spend AS (SELECT n_name, c_custkey,
           |    round(sum(o_totalprice), 2) AS spend
           |  FROM orders JOIN customer ON o_custkey = c_custkey
           |  JOIN nation ON c_nationkey = n_nationkey
           |  GROUP BY n_name, c_custkey)
           |SELECT n_name, c_custkey, spend,
           |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           |  round(percent_rank() OVER w, 4) AS pct_rank
           |FROM spend
           |WINDOW w AS (PARTITION BY n_name ORDER BY spend DESC, c_custkey)
           |ORDER BY n_name, c_custkey""".stripMargin))

  /** EWMA-smoothed daily metric per event type: events pre-aggregate to a
    * (type, day) mean table — metadata-sized, ONE exchange over the raw
    * stream — then the exponential smoothing runs as a decay-weighted join
    * over a bounded 30-day horizon ((1−α)³⁰ ≈ 1e-3 at α = 0.2; truncated
    * EWMA is the production form — an unbounded recursive window neither
    * scales nor replays). Adjusted-EWMA normalization (Σw·x / Σw), 4dp
    * round absorbing pow/sum ulp drift.
    */
  private val eventsEwma = Q(
    (s, d) => {
      val daily = D.events(s, d)
        .select(col("event_type"),
          floor(unix_timestamp(col("ts")) / lit(86400L)).cast("long").as("day"),
          col("value"))
        .groupBy("event_type", "day")
        .agg(count(lit(1)).as("n"), (sum("value") / count(lit(1))).as("day_mean"))
      val a = daily.select(col("event_type"), col("day").as("t"),
        col("n").as("n_t"), col("day_mean").as("x_t"))
      val b = daily.select(col("event_type"), col("day").as("j"), col("day_mean").as("x_j"))
      a.join(b, Seq("event_type"))
        .filter(col("j") <= col("t") && col("j") > col("t") - 30)
        .withColumn("w", pow(lit(0.8), (col("t") - col("j")).cast("double")))
        .groupBy(col("event_type"), col("t").as("day"))
        .agg(first(col("n_t")).as("n"),
          round(first(col("x_t")), 4).as("day_mean"),
          round(sum(col("w") * col("x_j")) / sum(col("w")), 4).as("ewma"))
        .orderBy("event_type", "day")
    },
    Some("""WITH daily AS (SELECT event_type,
           |    CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) AS day,
           |    count(*) AS n, sum(value) / count(*) AS day_mean
           |  FROM events GROUP BY event_type, day)
           |SELECT a.event_type, a.day AS day, a.n AS n,
           |  round(a.day_mean, 4) AS day_mean,
           |  round(sum(pow(0.8, CAST(a.day - b.day AS DOUBLE)) * b.day_mean)
           |    / sum(pow(0.8, CAST(a.day - b.day AS DOUBLE))), 4) AS ewma
           |FROM daily a JOIN daily b ON a.event_type = b.event_type
           |  AND b.day <= a.day AND b.day > a.day - 30
           |GROUP BY a.event_type, a.day, a.n, a.day_mean
           |ORDER BY a.event_type, a.day""".stripMargin))

  /** Overlapping activity intervals merged per user: each event opens a
    * 30-minute interval [epoch-second, +1800], and [[graft.operators.Intervals
    * .mergeIntervals]] scan-lines them into maximal islands — one exchange on
    * user_id whose clustering the window sort AND the island group-by both
    * reuse (no second shuffle). The oracle replays the identical running-max
    * island detection in DuckDB window SQL, so island boundaries — not just
    * counts — are hash-gated. All arithmetic is exact integer epoch seconds.
    */
  private val eventsIntervalsMerge = Q(
    (s, d) => {
      val iv = D.events(s, d).select(col("user_id"),
        floor(unix_timestamp(col("ts"))).cast("long").as("s"))
        .withColumn("e", col("s") + 1800L)
      graft.operators.Intervals.mergeIntervals(iv, Seq("user_id"), "s", "e")
        .select(col("user_id"), col("island_start"), col("island_end"),
          col("n_intervals"))
        .orderBy("user_id", "island_start")
    },
    Some("""WITH iv AS (SELECT user_id,
           |    CAST(floor(epoch(ts)) AS BIGINT) AS s,
           |    CAST(floor(epoch(ts)) AS BIGINT) + 1800 AS e
           |  FROM events),
           |flagged AS (SELECT user_id, s, e,
           |    CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY s, e
           |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
           |      OR s > max(e) OVER (PARTITION BY user_id ORDER BY s, e
           |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           |    THEN 1 ELSE 0 END AS new_island
           |  FROM iv),
           |islands AS (SELECT user_id, s, e,
           |    sum(new_island) OVER (PARTITION BY user_id ORDER BY s, e
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
           |  FROM flagged)
           |SELECT user_id, min(s) AS island_start, max(e) AS island_end,
           |  count(*) AS n_intervals
           |FROM islands GROUP BY user_id, island
           |ORDER BY user_id, island_start""".stripMargin))

  /** Per-(user, type) daily series densified with LOCF gap-fill
    * ([[graft.operators.Intervals.gapFillDaily]]): the day grid explodes from
    * each key's [min, max] span (rows-out bounded by keys × span-days), and
    * the carry-forward is one `last(_, ignoreNulls)` window riding the same
    * exchange as the span aggregate. The oracle builds the identical grid via
    * generate_series and fills with `last_value(v IGNORE NULLS)` — engines
    * agree on every filled cell, gated at 4dp on the summed daily value.
    */
  private val eventsGapfill = Q(
    (s, d) => {
      val daily = D.events(s, d).select(col("user_id"), col("event_type"),
          floor(unix_timestamp(col("ts")) / lit(86400L)).cast("long").as("day"),
          col("value"))
        .groupBy("user_id", "event_type", "day")
        .agg(sum("value").as("v"))
      graft.operators.Intervals.gapFillDaily(daily,
          Seq("user_id", "event_type"), "day", "v")
        .select(col("user_id"), col("event_type"), col("day"),
          round(col("v"), 4).as("value"), col("is_filled"))
        .orderBy("user_id", "event_type", "day")
    },
    Some("""WITH daily AS (SELECT user_id, event_type,
           |    CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) AS day,
           |    sum(value) AS v
           |  FROM events GROUP BY user_id, event_type, day),
           |span AS (SELECT user_id, event_type, min(day) AS d0, max(day) AS d1
           |  FROM daily GROUP BY user_id, event_type),
           |grid AS (SELECT user_id, event_type,
           |    unnest(generate_series(d0, d1)) AS day
           |  FROM span)
           |SELECT g.user_id, g.event_type, g.day,
           |  round(last_value(daily.v IGNORE NULLS) OVER (
           |    PARTITION BY g.user_id, g.event_type ORDER BY g.day
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS value,
           |  CAST(daily.v IS NULL AS BIGINT) AS is_filled
           |FROM grid g LEFT JOIN daily
           |  ON g.user_id = daily.user_id AND g.event_type = daily.event_type
           |  AND g.day = daily.day
           |ORDER BY g.user_id, g.event_type, g.day""".stripMargin))

  /** Weekly retention cohorts over the events stream: users cohorted by the
    * week of their first signup, counted in each later week they produced
    * any event — the product-analytics triangle matrix. Weeks are
    * epoch-day ÷ 7 (no calendar/timezone dependency to drift between
    * engines); everything is exact integer arithmetic, so the gate needs no
    * rounding except the retention-rate ratio.
    */
  private val eventsRetention = Q(
    (s, d) => {
      val ev = D.events(s, d).select(col("user_id"), col("event_type"),
        floor(unix_timestamp(col("ts")) / lit(86400L * 7)).cast("long").as("week"))
      val cohort = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min("week").as("cohort_week"))
      val active = ev.select(col("user_id"), col("week")).distinct()
      val sizes = cohort.groupBy("cohort_week").agg(count(lit(1)).as("cohort_size"))
      cohort.join(active, "user_id")
        .filter(col("week") >= col("cohort_week"))
        .select(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"),
          col("user_id"))
        .groupBy("cohort_week", "week_offset")
        .agg(countDistinct("user_id").as("n_active"))
        .join(sizes, "cohort_week")
        .select(col("cohort_week"), col("week_offset"), col("n_active"),
          round(col("n_active") / col("cohort_size").cast("double"), 4).as("retention"))
        .orderBy("cohort_week", "week_offset")
    },
    Some("""WITH ev AS (SELECT user_id, event_type,
           |    CAST(floor(floor(epoch(ts)) / 604800) AS BIGINT) AS week FROM events),
           |cohort AS (SELECT user_id, min(week) AS cohort_week FROM ev
           |  WHERE event_type = 'signup' GROUP BY user_id),
           |active AS (SELECT DISTINCT user_id, week FROM ev),
           |sizes AS (SELECT cohort_week, count(*) AS cohort_size FROM cohort
           |  GROUP BY cohort_week),
           |cells AS (SELECT c.cohort_week, a.week - c.cohort_week AS week_offset,
           |    count(DISTINCT a.user_id) AS n_active
           |  FROM cohort c JOIN active a ON c.user_id = a.user_id
           |  WHERE a.week >= c.cohort_week
           |  GROUP BY c.cohort_week, a.week - c.cohort_week)
           |SELECT x.cohort_week, x.week_offset, x.n_active,
           |  round(x.n_active / CAST(s.cohort_size AS DOUBLE), 4) AS retention
           |FROM cells x JOIN sizes s ON x.cohort_week = s.cohort_week
           |ORDER BY x.cohort_week, x.week_offset""".stripMargin))

  /** Per-type z-score outlier flagging over the events stream — the
    * statistical anomaly gate of a metrics pipeline: events whose value sits
    * more than 3 population standard deviations from their type's mean. The
    * per-type moment table is metadata-sized and broadcasts back into the
    * scan; z-scores round to 4dp before the cut so an ulp cannot flip a
    * flag between engines (the threshold compares the ROUNDED value both
    * sides — same trick as the weighted-sample sort key).
    */
  private val eventsAnomaly = Q(
    (s, d) => {
      val ev = D.events(s, d).select(col("event_id"), col("event_type"), col("value"))
      val stats = ev.groupBy("event_type").agg(
        (sum("value") / count(lit(1))).as("mu"),
        sqrt(sum(col("value") * col("value")) / count(lit(1)) -
          (sum("value") / count(lit(1))) * (sum("value") / count(lit(1)))).as("sigma"))
      ev.join(broadcast(stats), "event_type")
        .select(col("event_id"), col("event_type"),
          round((col("value") - col("mu")) / col("sigma"), 4).as("z"))
        .filter(abs(col("z")) > 3.0)
        .orderBy("event_id")
    },
    Some("""WITH stats AS (SELECT event_type,
           |    sum(value) / count(*) AS mu,
           |    sqrt(sum(value * value) / count(*)
           |      - (sum(value) / count(*)) * (sum(value) / count(*))) AS sigma
           |  FROM events GROUP BY event_type)
           |SELECT event_id, e.event_type,
           |  round((e.value - s.mu) / s.sigma, 4) AS z
           |FROM events e JOIN stats s ON e.event_type = s.event_type
           |WHERE abs(round((e.value - s.mu) / s.sigma, 4)) > 3.0
           |ORDER BY event_id""".stripMargin))

  private val j4SemiAnti = Q(
    (s, d) => {
      val c = D.customer(s, d); val o = D.orders(s, d); val n = D.nation(s, d)
      // Semi/anti in one pass: left join against the distinct order keys and split
      // on match presence (equivalent to left_semi + left_anti without the
      // ambiguous double self-join).
      val ordKeys = o.select(col("o_custkey")).distinct()
      val flagged = c.join(ordKeys, c("c_custkey") === ordKeys("o_custkey"), "left")
        .select(col("c_nationkey"), col("o_custkey").isNotNull.as("has_o"))
      val counts = flagged.groupBy("c_nationkey").agg(
        sum(when(col("has_o"), 1L).otherwise(0L)).as("with_orders"),
        sum(when(col("has_o"), 0L).otherwise(1L)).as("without_orders"))
      broadcast(n).join(counts, n("n_nationkey") === counts("c_nationkey"), "left")
        .select(col("n_name"),
          coalesce(col("with_orders"), lit(0L)).as("with_orders"),
          coalesce(col("without_orders"), lit(0L)).as("without_orders"))
        .orderBy("n_name")
    },
    // CAST→BIGINT: DuckDB returns sum(INTEGER) as HUGEINT which pandas reads as
    // float64 (hash mismatch vs Spark's long). The c_nationkey IS NOT NULL guard
    // keeps a customer-less nation at without_orders=0 (the LEFT JOIN's phantom
    // NULL row would otherwise fall into the ELSE branch and count as 1).
    Some("""SELECT n_name,
           |  CAST(coalesce(sum(CASE WHEN has_o THEN 1 ELSE 0 END), 0) AS BIGINT) AS with_orders,
           |  CAST(coalesce(sum(CASE WHEN c_nationkey IS NOT NULL AND NOT has_o THEN 1 ELSE 0 END), 0) AS BIGINT) AS without_orders
           |FROM nation LEFT JOIN (
           |  SELECT c_nationkey, EXISTS(SELECT 1 FROM orders WHERE o_custkey = c_custkey) AS has_o
           |  FROM customer) c ON c_nationkey = n_nationkey
           |GROUP BY n_name ORDER BY n_name""".stripMargin))

  private val u2SetOps = Q(
    (s, d) => {
      val cn = D.customer(s, d).select(col("c_nationkey").cast("long").as("k")).distinct()
      val sn = D.supplier(s, d).select(col("s_nationkey").cast("long").as("k")).distinct()
      // intersect/except would re-shuffle + re-distinct each of the three legs;
      // one full-outer join of the two already-distinct sets classifies every
      // key in a single pass (one exchange per side, reused). Keys are non-null
      // here, so join equality matches set-op NULL semantics.
      cn.withColumn("in_c", lit(1))
        .join(sn.withColumn("in_s", lit(1)), Seq("k"), "full_outer")
        .withColumn("op",
          when(col("in_c").isNotNull && col("in_s").isNotNull, "both")
            .when(col("in_c").isNotNull, "cust_only")
            .otherwise("supp_only"))
        .select("op", "k").orderBy("op", "k")
    },
    Some("""SELECT 'both' AS op, k FROM (
           |  SELECT DISTINCT CAST(c_nationkey AS BIGINT) AS k FROM customer
           |  INTERSECT SELECT DISTINCT CAST(s_nationkey AS BIGINT) FROM supplier)
           |UNION ALL SELECT 'cust_only', k FROM (
           |  SELECT DISTINCT CAST(c_nationkey AS BIGINT) AS k FROM customer
           |  EXCEPT SELECT DISTINCT CAST(s_nationkey AS BIGINT) FROM supplier)
           |UNION ALL SELECT 'supp_only', k FROM (
           |  SELECT DISTINCT CAST(s_nationkey AS BIGINT) AS k FROM supplier
           |  EXCEPT SELECT DISTINCT CAST(c_nationkey AS BIGINT) FROM customer)
           |ORDER BY op, k""".stripMargin))

  /** Tumbling 1-hour windowed aggregation over the events stream table — the batch
    * expression of the Structured Streaming update path (SURVEY §2.10); the same
    * plan runs under readStream + withWatermark.
    */
  /** Sliding (hopping) event-time window — the second Structured Streaming
    * window shape (`window(ts, size, slide)`): with size 1h / slide 30m each
    * event belongs to EXACTLY size/slide = 2 epoch-aligned windows, which the
    * oracle materializes as an unnest of the two bucket starts. The batch
    * `window()` expression here is the identical operator streaming uses;
    * StreamingSpec covers the incremental execution.
    */
  private val st2SlidingWindow = Q(
    (s, d) => D.events(s, d)
      .groupBy(col("event_type"), window(col("ts"), "1 hour", "30 minutes").as("w"))
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_value"))
      .select(col("event_type"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("cnt"), col("sum_value"))
      .orderBy("event_type", "win_start"),
    Some("""SELECT event_type,
           |  strftime(ws, '%Y-%m-%d %H:%M:%S') AS win_start,
           |  count(*) AS cnt, round(sum(value), 2) AS sum_value
           |FROM (SELECT event_type, value,
           |        unnest([time_bucket(INTERVAL 30 MINUTE, ts),
           |                time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE]) AS ws
           |      FROM events)
           |GROUP BY 1, 2 ORDER BY event_type, win_start""".stripMargin))

  /** Native `session_window` (the third Structured Streaming window shape).
    * MEASURED convention (streaming AND batch, StreamingSpec pins both): a
    * session's window is `[first, last + gap]`-touching — an event landing
    * EXACTLY `gap` after the last still MERGES (adjacent windows touch), and
    * only a strictly-larger silence starts a new session. Round 8 documented
    * this operator as `>=`-starts-new; that was WRONG, and the oracle only
    * passed because the generated events never land an exact-gap pair. The
    * gate now (a) encodes the true `>`-starts-new rule in raw-timestamp
    * arithmetic (no epoch flooring — session_window compares raw times,
    * unlike w3_sessionize's floored-seconds rule) and (b) UNIONS a
    * constructed boundary family — reserved user −1 with events at exact
    * 30-minute touches chained across the merge and one beyond — so the
    * boundary semantics are load-bearing in the hash, not accidental.
    */
  private val st3SessionWindow = Q(
    (s, d) => {
      import s.implicits._
      val boundary = Seq(
        // 10:00 → 10:30 → 11:00: two exact-gap touches chain into ONE
        // session [10:00, 11:30); 12:00:00.001 is strictly beyond → new
        (-1L, java.sql.Timestamp.valueOf("2026-03-01 10:00:00"), 1.0),
        (-1L, java.sql.Timestamp.valueOf("2026-03-01 10:30:00"), 2.0),
        (-1L, java.sql.Timestamp.valueOf("2026-03-01 11:00:00"), 3.0),
        (-1L, new java.sql.Timestamp(
          java.sql.Timestamp.valueOf("2026-03-01 11:30:00").getTime + 1L), 4.0))
        .toDF("user_id", "ts", "value")
      D.events(s, d).select("user_id", "ts", "value")
        .unionByName(boundary)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_value"))
        .select(col("user_id"),
          date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("sess_start"),
          date_format(col("w.end"), "yyyy-MM-dd HH:mm:ss").as("sess_end"),
          col("cnt"), col("sum_value"))
        .orderBy("user_id", "sess_start")
    },
    Some("""WITH ev AS (
           |  SELECT user_id, ts, value FROM events
           |  UNION ALL
           |  SELECT * FROM (VALUES
           |    (CAST(-1 AS BIGINT), TIMESTAMP '2026-03-01 10:00:00', 1.0),
           |    (CAST(-1 AS BIGINT), TIMESTAMP '2026-03-01 10:30:00', 2.0),
           |    (CAST(-1 AS BIGINT), TIMESTAMP '2026-03-01 11:00:00', 3.0),
           |    (CAST(-1 AS BIGINT), TIMESTAMP '2026-03-01 11:30:00.001', 4.0)
           |  ) AS b(user_id, ts, value)),
           |marked AS (
           |  SELECT user_id, ts, value,
           |    CASE WHEN lag(ts) OVER w IS NULL
           |         OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS ns
           |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
           |sess AS (SELECT user_id, ts, value,
           |    sum(ns) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
           |  FROM marked)
           |SELECT user_id,
           |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS sess_start,
           |  strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS sess_end,
           |  count(*) AS cnt, round(sum(value), 2) AS sum_value
           |FROM sess GROUP BY user_id, sid
           |ORDER BY user_id, sess_start""".stripMargin))

  private val st1TumblingWindow = Q(
    (s, d) => D.events(s, d)
      .groupBy(col("event_type"), window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_value"))
      .select(col("event_type"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("cnt"), col("sum_value"))
      .orderBy("event_type", "hour"),
    Some("""SELECT event_type,
           |  strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS hour,
           |  count(*) AS cnt, round(sum(value), 2) AS sum_value
           |FROM events GROUP BY 1, 2 ORDER BY event_type, hour""".stripMargin))

  /** Scalar-function battery (SURVEY §2.8): JSON extraction (F3-analog), date parts
    * and epoch (F8), string split/concat (F6/F9/F11) — all on the events table.
    */
  private val fScalarJson = Q(
    (s, d) => D.events(s, d)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"),
        year(col("ts")).cast("long").as("y"),
        month(col("ts")).cast("long").as("m"),
        unix_timestamp(date_trunc("second", col("ts"))).as("epoch_s"),
        concat_ws("-", col("event_type"), col("user_id")).as("type_user"),
        split(col("event_type"), "_").getItem(0).as("type_prefix"),
        lower(col("event_type")).as("type_lower"))
      .orderBy("event_id"),
    Some("""SELECT event_id,
           |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           |  CAST(year(ts) AS BIGINT) AS y, CAST(month(ts) AS BIGINT) AS m,
           |  epoch(date_trunc('second', ts))::BIGINT AS epoch_s,
           |  event_type || '-' || user_id AS type_user,
           |  string_split(event_type, '_')[1] AS type_prefix,
           |  lower(event_type) AS type_lower
           |FROM events ORDER BY event_id""".stripMargin))

  /** As-of join: each purchase event picks the user's most recent click at or
    * before it ([[graft.operators.AsOf.asOfJoin]] — one shuffle, no range join);
    * oracle = DuckDB's native ASOF LEFT JOIN.
    */
  private val j5AsofJoin = Q(
    (s, d) => {
      val ev = D.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      // unique (user_id, ts) on the right side: keep the max click id per instant
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy("user_id", "ts").agg(max("event_id").as("click_id"))
      graft.operators.AsOf.asOfJoin(purchases, clicks,
          Seq("user_id"), "ts", "ts", Seq("click_id"))
        .select(col("event_id"), col("user_id"), col("click_id"))
        .orderBy("event_id")
    },
    Some("""WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
           |c AS (SELECT user_id, ts, max(event_id) AS click_id FROM events
           |      WHERE event_type = 'click' GROUP BY user_id, ts)
           |SELECT p.event_id, p.user_id, c.click_id
           |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
           |ORDER BY p.event_id""".stripMargin))

  /** Range join ([[graft.operators.RangeJoin.pointInInterval]]): clicks within
    * ±5 minutes of a same-user error — time-bin bucketing turns the inequality
    * join into an equi-join on (user, bin) + exact containment filter; the
    * oracle is the plain inequality join.
    */
  private val j6RangeJoin = Q(
    (s, d) => {
      val ev = D.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("cts"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id").as("error_id"),
          (col("ts") - expr("INTERVAL 5 MINUTES")).as("w_start"),
          (col("ts") + expr("INTERVAL 5 MINUTES")).as("w_end"))
      graft.operators.RangeJoin.pointInInterval(
          clicks, "cts", errors, "w_start", "w_end", Seq("user_id"), binSeconds = 600L)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct("click_id").as("n_clicks"),
          countDistinct("error_id").as("n_errors"))
        .orderBy("user_id")
    },
    Some("""WITH c AS (SELECT user_id, event_id AS click_id, ts FROM events WHERE event_type = 'click'),
           |e AS (SELECT user_id, event_id AS error_id, ts FROM events WHERE event_type = 'error')
           |SELECT c.user_id, count(*) AS n_pairs,
           |  count(DISTINCT c.click_id) AS n_clicks, count(DISTINCT e.error_id) AS n_errors
           |FROM c JOIN e ON c.user_id = e.user_id
           |  AND c.ts BETWEEN e.ts - INTERVAL 5 MINUTE AND e.ts + INTERVAL 5 MINUTE
           |GROUP BY c.user_id ORDER BY c.user_id""".stripMargin))

  /** Gap-based sessionization over the events stream table: a >30-minute silence
    * from the same user starts a new session (lag + running sum of boundaries —
    * the batch twin of Structured Streaming session windows).
    */
  /** Running-frame window breadth (W-family): per user in event-time order,
    * a cumulative running total (integer cents — float window sums associate
    * differently across engines), the lead-gap to the next event, and the
    * ordinal. Exercises running frames + lead + row_number in one keyed pass.
    */
  private val w5RunningMetrics = Q(
    (s, d) => {
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      D.events(s, d)
        .withColumn("_cents", floor(col("value") * 100).cast("long"))
        .withColumn("running_cents", sum("_cents").over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("next_gap_s",
          unix_timestamp(lead("ts", 1).over(byUser)) - unix_timestamp(col("ts")))
        .withColumn("rn", row_number().over(byUser).cast("long"))
        .select(col("event_id"), col("user_id"), col("rn"),
          col("running_cents"), col("next_gap_s"))
        .orderBy("event_id")
    },
    Some("""SELECT event_id, user_id,
           |  CAST(row_number() OVER w AS BIGINT) AS rn,
           |  CAST(sum(CAST(floor(value * 100) AS BIGINT))
           |    OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_cents,
           |  CAST(floor(epoch(lead(ts) OVER w)) - floor(epoch(ts)) AS BIGINT) AS next_gap_s
           |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
           |ORDER BY event_id""".stripMargin))

  private val w3Sessionize = Q(
    (s, d) => {
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      D.events(s, d)
        .withColumn("prev_ts", lag("ts", 1).over(byUser))
        .withColumn("new_session",
          (col("prev_ts").isNull ||
            unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800).cast("long"))
        .withColumn("session_no", sum("new_session").over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_no")
        .agg(count(lit(1)).as("n_events"),
          (unix_timestamp(max("ts")) - unix_timestamp(min("ts"))).as("duration_s"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"),
          max("n_events").as("max_events"),
          max("duration_s").as("max_duration_s"))
        .orderBy("user_id")
    },
    Some("""WITH marked AS (
           |  SELECT user_id, ts, event_id,
           |    CASE WHEN lag(ts) OVER w IS NULL
           |         OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800 THEN 1 ELSE 0 END AS new_session
           |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
           |sessions AS (
           |  SELECT user_id, ts,
           |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
           |      ROWS UNBOUNDED PRECEDING) AS session_no
           |  FROM marked),
           |per_session AS (
           |  SELECT user_id, session_no, count(*) AS n_events,
           |    CAST(floor(epoch(max(ts))) - floor(epoch(min(ts))) AS BIGINT) AS duration_s
           |  FROM sessions GROUP BY user_id, session_no)
           |SELECT user_id, count(*) AS n_sessions, max(n_events) AS max_events,
           |  max(duration_s) AS max_duration_s
           |FROM per_session GROUP BY user_id ORDER BY user_id""".stripMargin))

  /** Salted two-phase aggregation (skew mitigation) — must produce exactly the
    * plain GROUP BY result, so the oracle IS the plain GROUP BY.
    */
  private val skewSaltedAgg = Q(
    (s, d) => graft.operators.Skew.saltedAgg(
        D.events(s, d), Seq("event_type"), col("event_id"),
        Map("value" -> "sum", "event_id" -> "count"), numSalts = 16)
      .select(col("event_type"), round(col("sum_value"), 2).as("sum_value"),
        col("count_event_id").as("cnt"))
      .orderBy("event_type"),
    Some("""SELECT event_type, round(sum(value), 2) AS sum_value, count(event_id) AS cnt
           |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin))

  /** Salted equi-join (hot-key spread: big side salts, small side replicates
    * per salt) — lossless, so the oracle is the plain join.
    */
  private val skewSaltedJoin = Q(
    (s, d) => {
      val big = D.lineitem(s, d).select(col("l_orderkey"), col("l_quantity"))
      val small = D.orders(s, d)
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      graft.operators.Skew.saltedJoin(big, small, "l_orderkey",
          saltSource = col("l_quantity"), numSalts = 8)
        .groupBy("o_orderpriority")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"), count(lit(1)).as("cnt"))
        .orderBy("o_orderpriority")
    },
    Some("""SELECT o_orderpriority, round(sum(l_quantity), 2) AS sum_qty, count(*) AS cnt
           |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin))

  val all: Map[String, Q] = Map(
    "j7_snapshot_diff" -> j7SnapshotDiff,
    "w1_rank_window" -> w1RankWindow,
    "a4_watermark_max" -> a4WatermarkMax,
    "p3_filter_dsl" -> p3FilterDsl,
    "p8_fetch_slice" -> p8FetchSlice,
    "events_funnel" -> eventsFunnel,
    "w6_ntile_quartile" -> w6NtileQuartile,
    "events_ewma" -> eventsEwma,
    "events_intervals_merge" -> eventsIntervalsMerge,
    "events_gapfill" -> eventsGapfill,
    "events_retention" -> eventsRetention,
    "events_anomaly" -> eventsAnomaly,
    "j4_semi_anti" -> j4SemiAnti,
    "u2_set_ops" -> u2SetOps,
    "st2_sliding_window" -> st2SlidingWindow,
    "st3_session_window" -> st3SessionWindow,
    "st1_tumbling_window" -> st1TumblingWindow,
    "f_scalar_json" -> fScalarJson,
    "j5_asof_join" -> j5AsofJoin,
    "j6_range_join" -> j6RangeJoin,
    "w5_running_metrics" -> w5RunningMetrics,
    "w3_sessionize" -> w3Sessionize,
    "skew_salted_agg" -> skewSaltedAgg,
    "skew_salted_join" -> skewSaltedJoin)
}
