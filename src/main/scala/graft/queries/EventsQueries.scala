package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.{Dedup, TextFunctions => TF}
import graft.functions.SortedSumD.{sortedSum => ssum}
import graft.ops.{AsOf, Behavior, Caches, Sketches}

import Shared.events

/** Time-series and behavioral analytics over the `events` table:
  * sessions, funnels, as-of joins, rolling and drift statistics. */
object EventsQueries {

  val all: Seq[QueryDef] = Seq(

    // JSON scalar extraction over events.props (engine free-function
    // surface; SURVEY.md §2.5 note).
    QueryDef("q12_json_extract", (s, dir) => {
      events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"))
        .orderBy("event_type")
    },
      """SELECT event_type,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
             AS BIGINT) AS sum_k,
           count(*) AS n
         FROM events GROUP BY 1 ORDER BY 1"""),

    // T7-adjacent batch shape — event-time bucketing + aggregation
    // (the streaming variant with watermarks lives in engine.Watcher).
    QueryDef("q13_time_window_agg", (s, dir) => {
      events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("bucket"), col("event_type"))
        .agg(count(lit(1)).as("n"), (sum(round(col("value") * 100, 0).cast("long"))
            .cast("double") / 100.0).as("sum_value"))
        .select(date_format(col("bucket"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy("hour", "event_type")
    },
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
           event_type, count(*) AS n, (sum(cast(round(value*100) as bigint))::BIGINT)::DOUBLE / 100.0 AS sum_value
         FROM events GROUP BY 1,2 ORDER BY 1,2"""),

    // Map-typed column machinery: per-user event-type→count maps built
    // with map_from_entries, then consumed via size/try_element_at/
    // map_values+aggregate — proves the map surface round-trips (the
    // oracle recomputes the scalars relationally).
    QueryDef("q43_map_funcs", (s, dir) => {
      val counts = events(s, dir)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      counts.groupBy(col("user_id"))
        .agg(map_from_entries(
          array_sort(collect_list(struct(col("event_type"), col("n")))))
          .as("m"))
        .select(col("user_id"),
          size(col("m")).as("n_types"),
          coalesce(try_element_at(col("m"), lit("click")), lit(0L))
            .as("clicks"),
          aggregate(map_values(col("m")), lit(0L), (a, x) => a + x)
            .as("total"))
        .orderBy("user_id")
    },
      """WITH c AS (
           SELECT user_id, event_type, count(*) AS n
           FROM events GROUP BY 1,2)
         SELECT user_id,
           CAST(count(*) AS INTEGER) AS n_types,
           CAST(coalesce(sum(n) FILTER (event_type = 'click'), 0) AS BIGINT)
             AS clicks,
           CAST(sum(n) AS BIGINT) AS total
         FROM c GROUP BY 1 ORDER BY user_id"""),

    // RANGE-framed window: per-user sliding 1-hour event-value sum keyed
    // on event time (not row count) — the time-decayed-feature shape.
    // Frame bounds are in MICROSECONDS (unix_micros) so frame membership
    // is exact on both engines.
    QueryDef("q45_range_window", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")))
        .rangeBetween(-3600L * 1000000L, 0L)
      events(s, dir)
        .select(col("event_id"), col("user_id"),
          round(sum(col("value")).over(w), 2).as("hour_sum"))
        .orderBy("event_id")
    },
      """SELECT event_id, user_id,
           round(sum(value) OVER (PARTITION BY user_id
             ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW), 2)
             AS hour_sum
         FROM events ORDER BY event_id"""),

    // Analytic window breadth: lag/lead/ntile/percent_rank over the
    // per-user event timeline (one keyed window shuffle serves all four;
    // total tiebreak (ts, event_id) makes every value deterministic).
    QueryDef("q51_window_analytics", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      events(s, dir)
        .select(col("event_id"), col("user_id"),
          lag(col("event_type"), 1).over(w).as("prev_type"),
          lead(col("event_type"), 1).over(w).as("next_type"),
          ntile(4).over(w).as("quartile"),
          round(percent_rank().over(w), 4).as("pct_rank"))
        .orderBy("event_id")
    },
      """SELECT event_id, user_id,
           lag(event_type, 1) OVER w AS prev_type,
           lead(event_type, 1) OVER w AS next_type,
           CAST(ntile(4) OVER w AS INTEGER) AS quartile,
           round(percent_rank() OVER w, 4) AS pct_rank
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         ORDER BY event_id"""),

    // Gap-based sessionization via session_window (batch form of the
    // streaming Sessionize semantics): sessions close after a 30-minute
    // event gap; window end = last event + gap. Boundary contract
    // (verified by execution in OpsSpec): Spark MERGES an event arriving
    // exactly `gap` after the previous one into the same session —
    // sessions merge while newStart <= sessionEnd — so the oracle's
    // new-session predicate is strictly `>`, matching. The oracle
    // replays it with gaps-and-islands SQL (lag + running sum), so the
    // session semantics themselves are hash-gated, not just spec-tested.
    QueryDef("q52_session_window", (s, dir) => {
      events(s, dir)
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"),
          (sum(round(col("value") * 100, 0).cast("long"))
            .cast("double") / 100.0).as("sum_value"))
        .select(col("user_id"),
          date_format(col("sw.start"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .as("session_start"),
          date_format(col("sw.end"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .as("session_end"),
          col("n_events"), col("sum_value"))
        .orderBy("user_id", "session_start")
    },
      """WITH o AS (
           SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                    > INTERVAL 30 MINUTE OR
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_s
           FROM events),
         s AS (
           SELECT user_id, ts, value,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
               ROWS UNBOUNDED PRECEDING) AS sid
           FROM o)
         SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           strftime(max(ts) + INTERVAL 30 MINUTE,
             '%Y-%m-%d %H:%M:%S.%f') AS session_end,
           count(*) AS n_events, (sum(cast(round(value*100) as bigint))::BIGINT)::DOUBLE / 100.0 AS sum_value
         FROM s GROUP BY user_id, sid
         ORDER BY user_id, session_start"""),

    // As-of join (point-in-time): for each purchase, the user's latest
    // click at-or-before it — composed as union + one keyed window (one
    // shuffle, no join, no row explosion; see ops.AsOf).
    QueryDef("q33_asof_join", (s, dir) => {
      val e = events(s, dir)
      val purchases = e.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = e.filter(col("event_type") === "click")
        .select("user_id", "ts")
      AsOf.join(purchases, clicks, "user_id", "ts", "ts", valueCols = Nil)
        .select(col("event_id"),
          date_format(col("asof_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .as("asof_ts"))
        .orderBy("event_id")
    },
      """SELECT p.event_id,
           strftime((SELECT max(c.ts) FROM events c
                     WHERE c.user_id = p.user_id
                       AND c.event_type = 'click' AND c.ts <= p.ts),
                    '%Y-%m-%d %H:%M:%S.%f') AS asof_ts
         FROM events p WHERE p.event_type = 'purchase'
         ORDER BY p.event_id"""),

    // The SAME as-of semantics through the NATIVE custom operator
    // (logical node → strategy → sort-merge exec, graft.plans) — the
    // custom-plan path under the same oracle as q33.
    QueryDef("q37_asof_native", (s, dir) => {
      val e = events(s, dir)
      val purchases = e.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = e.filter(col("event_type") === "click")
        .select("user_id", "ts")
      graft.plans.AsOfJoinPlan.asofJoin(purchases, clicks, "user_id", "ts", "ts")
        .select(col("event_id"),
          date_format(col("asof_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .as("asof_ts"))
        .orderBy("event_id")
    },
      """SELECT p.event_id,
           strftime((SELECT max(c.ts) FROM events c
                     WHERE c.user_id = p.user_id
                       AND c.event_type = 'click' AND c.ts <= p.ts),
                    '%Y-%m-%d %H:%M:%S.%f') AS asof_ts
         FROM events p WHERE p.event_type = 'purchase'
         ORDER BY p.event_id"""),

    // Pivot: daily event-type matrix (missing cells zero-filled to match
    // the FILTER-count oracle semantics).
    QueryDef("q34_pivot", (s, dir) => {
      val types = Seq("click", "view", "purchase", "signup", "error")
      events(s, dir)
        .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd")
          .as("day"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .na.fill(0, types)
        .orderBy("day")
    },
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           count(*) FILTER (event_type = 'click') AS click,
           count(*) FILTER (event_type = 'view') AS view,
           count(*) FILTER (event_type = 'purchase') AS purchase,
           count(*) FILTER (event_type = 'signup') AS signup,
           count(*) FILTER (event_type = 'error') AS error
         FROM events GROUP BY 1 ORDER BY 1"""),

    // Dynamic-gap sessionization: session_window with a PER-EVENT gap
    // expression (purchases hold the session open 60 min, everything
    // else 30). Merge rule (same as q52's pinned boundary contract):
    // each event spans [ts, ts+gap]; windows merge while the next start
    // <= the running session end, so the oracle's new-session predicate
    // is strictly `ts > max(prev ts+gap)`. Session end = max(ts+gap).
    QueryDef("q57_session_dynamic_gap", (s, dir) => {
      val gap = when(col("event_type") === "purchase", lit("60 minutes"))
        .otherwise(lit("30 minutes"))
      events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), gap).as("sw"))
        .agg(count(lit(1)).as("n_events"),
          (sum(round(col("value") * 100, 0).cast("long"))
            .cast("double") / 100.0).as("sum_value"))
        .select(col("user_id"),
          date_format(col("sw.start"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .as("session_start"),
          date_format(col("sw.end"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .as("session_end"),
          col("n_events"), col("sum_value"))
        .orderBy("user_id", "session_start")
    },
      """WITH g AS (
           SELECT user_id, ts, value,
             CASE WHEN event_type = 'purchase' THEN INTERVAL 60 MINUTE
                  ELSE INTERVAL 30 MINUTE END AS gap
           FROM events),
         o AS (
           SELECT user_id, ts, value, ts + gap AS we,
             max(ts + gap) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
           FROM g),
         s AS (
           SELECT *, CASE WHEN pme IS NULL OR ts > pme THEN 1 ELSE 0 END
             AS new_s
           FROM o),
         i AS (
           SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
             ROWS UNBOUNDED PRECEDING) AS sid
           FROM s)
         SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           strftime(max(we), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
           count(*) AS n_events, (sum(cast(round(value*100) as bigint))::BIGINT)::DOUBLE / 100.0 AS sum_value
         FROM i GROUP BY user_id, sid
         ORDER BY user_id, session_start"""),

    // IGNORE NULLS window navigation — carry-forward of the last
    // purchase amount per user (last_value) and the previous one (lag),
    // both skipping the non-purchase rows' nulls. One keyed window
    // shuffle serves both.
    QueryDef("q63_ignore_nulls", (s, dir) => {
      val pv = when(col("event_type") === "purchase", col("value"))
      val ordered = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val running = ordered
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, dir)
        .select(col("event_id"), col("user_id"),
          round(last(pv, ignoreNulls = true).over(running), 2)
            .as("last_purchase"),
          round(lag(pv, 1, null, ignoreNulls = true).over(ordered), 2)
            .as("prev_purchase"))
        .orderBy("event_id")
    },
      """SELECT event_id, user_id,
           round(last_value(CASE WHEN event_type = 'purchase' THEN value END
             IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
             AS last_purchase,
           round(lag(CASE WHEN event_type = 'purchase' THEN value END
             IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id),
             2) AS prev_purchase
         FROM events ORDER BY event_id"""),

    // SLIDING (overlapping) windows — window(ts, 10 min, slide 5 min):
    // each event lands in exactly two windows; Spark expands the
    // window set map-side (explode of the window array), then one
    // shuffle on window start. Complements q13's tumbling hour.
    QueryDef("q99_sliding_window", (s, dir) => {
      events(s, dir)
        .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"))
        .agg(count(lit(1)).as("n"), (sum(round(col("value") * 100, 0).cast("long"))
            .cast("double") / 100.0).as("sum_value"))
        .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("wstart"),
          date_format(col("w.end"), "yyyy-MM-dd HH:mm:ss").as("wend"),
          col("n"), col("sum_value"))
        .orderBy("wstart")
    },
      // Epoch-aligned 5-minute grid replayed with integer second
      // arithmetic (floor BEFORE the bigint cast — a .999999 fraction
      // must truncate, not round, or boundary events jump buckets);
      // NTZ timestamp arithmetic so no session-timezone dependence.
      """WITH w AS (
           SELECT TIMESTAMP '1970-01-01 00:00:00' +
               ((floor(epoch(ts))::BIGINT // 300) * 300 - k * 300)
                 * INTERVAL 1 SECOND AS ws,
             value
           FROM events, unnest([0, 1]) AS t(k))
         SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS wstart,
           strftime(ws + INTERVAL 10 MINUTE, '%Y-%m-%d %H:%M:%S') AS wend,
           count(*) AS n, (sum(cast(round(value*100) as bigint))::BIGINT)::DOUBLE / 100.0 AS sum_value
         FROM w GROUP BY 1, 2 ORDER BY 1"""),

    // First-order Markov transition matrix over per-user event
    // sequences: one keyed window (lead) + one groupBy; row-normalized
    // probabilities via a partition-sum window over the COUNTS table
    // (event-type² rows, not the event stream).
    QueryDef("q106_markov_transitions", (s, dir) => {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val counts = events(s, dir)
        .select(col("event_type").as("src"),
          lead(col("event_type"), 1).over(byUser).as("dst"))
        .filter(col("dst").isNotNull)
        .groupBy("src", "dst").agg(count(lit(1)).as("n"))
      counts.select(col("src"), col("dst"), col("n"),
          round(col("n").cast("double") /
            sum(col("n")).over(Window.partitionBy(col("src"))), 4).as("p"))
        .orderBy("src", "dst")
    },
      """WITH tr AS (
           SELECT event_type AS src,
             lead(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS dst
           FROM events),
         c AS (
           SELECT src, dst, count(*) AS n
           FROM tr WHERE dst IS NOT NULL GROUP BY 1, 2)
         SELECT src, dst, n,
           round(n::DOUBLE / (sum(n) OVER (PARTITION BY src))::DOUBLE, 4)
             AS p
         FROM c ORDER BY src, dst"""),

    // HLL SKETCH ALGEBRA: per-source registers (Sketches.hllRegistersBy)
    // merged by max-per-bucket into the global sketch — the lossless
    // roll-up that lets a warehouse sketch per partition and aggregate
    // register rows instead of rescanning. Per-source estimates and the
    // merged estimate in one report.
    QueryDef("q113_hll_merge", (s, dir) => {
      val regs = Sketches.hllRegistersBy(events(s, dir),
        col("event_type"), col("user_id").cast("string"), p = 6)
      val per = Sketches.hllEstimateFromRegisters(regs, Seq("grp"), 6)
        .select(col("grp").as("source"), col("est_distinct"),
          col("nonzero_buckets"))
      val merged = Sketches.hllEstimateFromRegisters(
          regs.groupBy("bucket").agg(max(col("mx")).as("mx")), Seq.empty, 6)
        .select(lit("__MERGED__").as("source"), col("est_distinct"),
          col("nonzero_buckets"))
      per.unionByName(merged).orderBy("source")
    },
      """WITH h AS (
           SELECT event_type, ('0x' || substring(md5('0:'
             || CAST(user_id AS VARCHAR)), 1, 12))::BIGINT AS h
           FROM events),
         rk AS (
           SELECT event_type, h % 64 AS bucket,
             CASE WHEN h // 64 = 0 THEN 43
                  ELSE 43 - length(format('{:b}', h // 64)) END AS rank
           FROM h),
         reg AS (SELECT event_type AS source, bucket, max(rank) AS mx
                 FROM rk GROUP BY 1, 2),
         allreg AS (
           SELECT source, bucket, mx FROM reg
           UNION ALL
           SELECT '__MERGED__', bucket, max(mx) FROM reg GROUP BY 2),
         s AS (SELECT source, CAST(count(*) AS BIGINT) AS nz,
                 list_sum(list_sort(list(
                   power(CAST(2 AS DOUBLE), -mx)))) AS s
               FROM allreg GROUP BY 1),
         e AS (SELECT source, nz, s + (CAST(64 AS DOUBLE) - nz) AS st,
                 64 - nz AS v FROM s),
         raw AS (SELECT source, nz, v,
                   CAST(0.709 AS DOUBLE) * CAST(64 AS DOUBLE)
                     * CAST(64 AS DOUBLE) / st AS eraw
                 FROM e)
         SELECT source,
           round(CASE WHEN eraw <= CAST(160 AS DOUBLE) AND v > 0
             THEN CAST(64 AS DOUBLE) * ln(CAST(64 AS DOUBLE) / v)
             ELSE eraw END, 4) AS est_distinct,
           nz AS nonzero_buckets
         FROM raw ORDER BY source"""),

    // Statistical anomaly detection: per-type mean/std from SORTED-FOLD
    // moment sums (deterministic cross-engine, unlike builtin stddev's
    // partition-order sums), z-score flags via a broadcast join back.
    // TWO-LEVEL fold (q82's pattern): event_type is a handful of coarse
    // groups over the whole fact table, so a single-level fold's buffer
    // would hold the entire table — bucketing by event_id%4096 bounds
    // every buffer while keeping the summation order a pure function of
    // the value multiset (bit-identical on any engine / partitioning).
    QueryDef("q119_anomaly_zscore", (s, dir) => {
      val ev = events(s, dir)
      val sortedSum = (c: Column) => ssum(collect_list(c))
      val l1 = ev.groupBy(col("event_type"),
          pmod(col("event_id"), lit(4096)).as("b"))
        .agg(count(lit(1)).as("n1"),
          sortedSum(col("value")).as("sx1"),
          sortedSum(col("value") * col("value")).as("sx21"))
      val stats = l1.groupBy("event_type")
        .agg(sum(col("n1")).cast("long").as("n"),
          sortedSum(col("sx1")).as("sx"),
          sortedSum(col("sx21")).as("sx2"))
        .select(col("event_type"), col("n"),
          (col("sx") / col("n")).as("mean"),
          sqrt((col("sx2") - col("sx") * col("sx") / col("n")) /
            (col("n") - 1)).as("std"))
      ev.join(broadcast(stats), Seq("event_type"))
        .groupBy("event_type")
        .agg(max(col("n")).as("n"),
          round(max(col("mean")), 4).as("mean"),
          round(max(col("std")), 4).as("std"),
          sum((abs(col("value") - col("mean")) > lit(2.0) * col("std"))
            .cast("long")).as("n_outliers"))
        .orderBy("event_type")
    },
      // Two-level fold mirroring Spark: per-(type, event_id%4096) sorted
      // folds, then a sorted fold of the subtotals — bounded buffers,
      // order a pure function of the value multiset.
      """WITH l1 AS (
           SELECT event_type, event_id % 4096 AS b, count(*) AS n1,
             list_sum(list_sort(list(value))) AS sx1,
             list_sum(list_sort(list(value * value))) AS sx21
           FROM events GROUP BY 1, 2),
         s AS (
           SELECT event_type, CAST(sum(n1) AS BIGINT) AS n,
             list_sum(list_sort(list(sx1))) AS sx,
             list_sum(list_sort(list(sx21))) AS sx2
           FROM l1 GROUP BY 1),
         st AS (
           SELECT event_type, n, sx / n AS mean,
             sqrt((sx2 - sx * sx / n) / (n - 1)) AS std
           FROM s)
         SELECT e.event_type, max(st.n) AS n,
           round(max(st.mean), 4) AS mean,
           round(max(st.std), 4) AS std,
           sum((abs(e.value - st.mean) > 2.0::DOUBLE * st.std)::BIGINT)
             ::BIGINT AS n_outliers
         FROM events e JOIN st ON e.event_type = st.event_type
         GROUP BY 1 ORDER BY 1"""),

    // Group-mean imputation: deterministically nulled values (id%7)
    // refilled from the two-level sorted-fold group mean (bounded
    // buffers — see q119) — the data-prep imputation primitive,
    // broadcast join + coalesce.
    QueryDef("q120_imputation", (s, dir) => {
      val ev = events(s, dir)
        .select(col("event_id"), col("event_type"),
          when(col("event_id") % 7 === 0, lit(null).cast("double"))
            .otherwise(col("value")).as("v"))
      val sfold = (c: Column) => ssum(collect_list(c))
      val means = ev.filter(col("v").isNotNull)
        .groupBy(col("event_type"), pmod(col("event_id"), lit(4096)).as("b"))
        .agg(sfold(col("v")).as("s1"), count(lit(1)).as("n1"))
        .groupBy("event_type")
        .agg((sfold(col("s1")) / sum(col("n1"))).as("gmean"))
      ev.join(broadcast(means), Seq("event_type"))
        .select(col("event_id"), col("event_type"),
          (col("v").isNull).cast("long").as("was_imputed"),
          round(coalesce(col("v"), col("gmean")), 2).as("value_filled"))
        .orderBy("event_id")
    },
      """WITH ev AS (
           SELECT event_id, event_type,
             CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
           FROM events),
         l1 AS (
           SELECT event_type, event_id % 4096 AS b,
             list_sum(list_sort(list(v))) AS s1, count(*) AS n1
           FROM ev WHERE v IS NOT NULL GROUP BY 1, 2),
         m AS (
           SELECT event_type,
             list_sum(list_sort(list(s1))) / sum(n1) AS gmean
           FROM l1 GROUP BY 1)
         SELECT event_id, ev.event_type,
           (v IS NULL)::BIGINT AS was_imputed,
           round(coalesce(v, gmean), 2) AS value_filled
         FROM ev JOIN m ON ev.event_type = m.event_type
         ORDER BY event_id"""),

    // Deterministic pseudonymization: salted-md5 surrogate ids — stable
    // across tables and runs (referential consistency survives
    // anonymization: grouping by the surrogate equals grouping by the
    // raw key), no lookup table to store or leak. Map-side transform.
    QueryDef("q122_pseudonymize", (s, dir) => {
      val surrogate = concat(lit("u_"), substring(
        md5(concat(lit("salt1:"), col("user_id").cast("string"))), 1, 16))
      events(s, dir)
        .select(surrogate.as("user_pseudo"), col("event_type"), col("value"))
        .groupBy("user_pseudo")
        .agg(count(lit(1)).as("n_events"),
          count_distinct(col("event_type")).as("n_types"),
          round(min(col("value")), 2).as("min_value"))
        .orderBy("user_pseudo")
    },
      """SELECT 'u_' || substring(md5('salt1:'
             || CAST(user_id AS VARCHAR)), 1, 16) AS user_pseudo,
           count(*)::BIGINT AS n_events,
           count(DISTINCT event_type)::BIGINT AS n_types,
           round(min(value), 2) AS min_value
         FROM events GROUP BY 1 ORDER BY 1"""),

    // Multi-model marketing attribution: per purchase, candidate
    // clicks in the prior 30 min (user-keyed equi join + time filter —
    // never a theta-only join), first/last touch via lexicographic
    // struct min/max, linear share as a per-row division. No big
    // float sums anywhere.
    QueryDef("q123_attribution", (s, dir) => {
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts").as("cts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("ts").as("pts"), col("value"))
      purchases.join(clicks, Seq("user_id"))
        .filter(col("cts") >= col("pts") - expr("INTERVAL 30 MINUTES") &&
          col("cts") < col("pts"))
        .groupBy("purchase_id")
        .agg(max(col("user_id")).as("user_id"),
          count(lit(1)).as("n_clicks"),
          min(struct(col("cts").as("t"), col("click_id").as("c")))
            .getField("c").as("first_click_id"),
          max(struct(col("cts").as("t"), col("click_id").as("c")))
            .getField("c").as("last_click_id"),
          round(max(col("value")) / count(lit(1)), 4).as("linear_share"))
        .orderBy("purchase_id")
    },
      """WITH c AS (
           SELECT user_id, event_id AS click_id, ts AS cts
           FROM events WHERE event_type = 'click'),
         p AS (
           SELECT user_id, event_id AS purchase_id, ts AS pts, value
           FROM events WHERE event_type = 'purchase'),
         j AS (
           SELECT p.purchase_id, p.user_id, p.value, c.click_id, c.cts
           FROM p JOIN c ON p.user_id = c.user_id
             AND c.cts >= p.pts - INTERVAL 30 MINUTE
             AND c.cts < p.pts),
         r AS (
           SELECT *,
             row_number() OVER (PARTITION BY purchase_id
               ORDER BY cts, click_id) AS rn_a,
             row_number() OVER (PARTITION BY purchase_id
               ORDER BY cts DESC, click_id DESC) AS rn_d
           FROM j)
         SELECT purchase_id, max(user_id) AS user_id,
           count(*)::BIGINT AS n_clicks,
           max(CASE WHEN rn_a = 1 THEN click_id END) AS first_click_id,
           max(CASE WHEN rn_d = 1 THEN click_id END) AS last_click_id,
           round(max(value) / count(*), 4) AS linear_share
         FROM r GROUP BY 1 ORDER BY 1"""),

    // Time-weighted average (TWAP) over IRREGULAR event times: each
    // observation weighted by its holding interval to the next event
    // (microsecond-exact integer Δt via unix_micros; the weighted sum
    // is a sorted fold). One keyed window + one groupBy.
    QueryDef("q124_twap", (s, dir) => {
      val byUserDay = Window
        .partitionBy(col("user_id"), col("day"))
        .orderBy(col("us"), col("event_id"))
      events(s, dir)
        .select(col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"),
          col("event_id"), col("value"), unix_micros(col("ts")).as("us"))
        .withColumn("nxt", lead(col("us"), 1).over(byUserDay))
        .filter(col("nxt").isNotNull)
        .withColumn("dt", col("nxt") - col("us"))
        .groupBy("user_id", "day")
        .agg(count(lit(1)).as("n_intervals"),
          sum(col("dt")).cast("long").as("total_us"),
          round(ssum(collect_list(col("value") * col("dt"))) /
            sum(col("dt")).cast("double"), 4).as("twap"))
        .orderBy("user_id", "day")
    },
      """WITH e AS (
           SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
             event_id, value, epoch_us(ts) AS us
           FROM events),
         n AS (
           SELECT *, lead(us) OVER (PARTITION BY user_id, day
             ORDER BY us, event_id) AS nxt
           FROM e),
         d AS (SELECT user_id, day, value, nxt - us AS dt
               FROM n WHERE nxt IS NOT NULL)
         SELECT user_id, day, count(*)::BIGINT AS n_intervals,
           sum(dt)::BIGINT AS total_us,
           round(list_sum(list_sort(list(value * dt))) /
             sum(dt)::DOUBLE, 4) AS twap
         FROM d GROUP BY 1, 2 ORDER BY 1, 2"""),

    // The stream-stream interval join's BATCH semantics, oracle-gated:
    // each click pairs with the same user's purchases in [click,
    // click+30min] (EventStreams.intervalJoin — watermarks are no-ops
    // on batch frames, so this is the same code path streaming runs).
    QueryDef("q67_interval_join", (s, dir) => {
      val e = events(s, dir)
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id").as("l_uid"), col("ts").as("l_ts"),
          col("event_id").as("click_id"))
      val buys = e.filter(col("event_type") === "purchase")
        .select(col("user_id").as("r_uid"), col("ts").as("r_ts"),
          col("event_id").as("buy_id"))
      graft.streaming.EventStreams.intervalJoin(clicks, buys,
          "l_uid", "r_uid", "l_ts", "r_ts",
          before = "0 minutes", after = "30 minutes")
        .select(col("click_id"), col("buy_id"))
        .orderBy("click_id", "buy_id")
    },
      """SELECT c.event_id AS click_id, p.event_id AS buy_id
         FROM events c JOIN events p
           ON c.user_id = p.user_id
          AND c.event_type = 'click' AND p.event_type = 'purchase'
          AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
         ORDER BY 1, 2"""),

    // Per-group KMV distinct sketch (Sketches.kmvDistinctGrouped):
    // distinct users per event type, one bottom-32 sketch per group in
    // a single pass — exact below k (sf0.001: 15 users), estimated
    // above (sf0.1: 1500), so BOTH estimator paths are oracle-gated.
    QueryDef("q84_kmv_grouped", (s, dir) => {
      Sketches.kmvDistinctGrouped(events(s, dir), Seq("event_type"),
          col("user_id").cast("string"), k = 32)
        .orderBy("event_type")
    },
      """WITH h AS (
           SELECT DISTINCT event_type,
             ('0x' || substring(md5('0:' || CAST(user_id AS VARCHAR)),
               1, 12))::BIGINT AS h
           FROM events),
         r AS (SELECT event_type, h,
                 row_number() OVER (PARTITION BY event_type ORDER BY h)
                   AS rn
               FROM h),
         s AS (SELECT event_type, count(*) AS n, max(h) AS hk
               FROM r WHERE rn <= 32 GROUP BY 1)
         SELECT event_type,
           CASE WHEN n < 32 THEN CAST(n AS DOUBLE)
                ELSE round(CAST(31 AS DOUBLE)
                           * CAST(281474976710656 AS DOUBLE) / hk, 4) END
             AS est_distinct,
           n AS k_used
         FROM s ORDER BY event_type"""),

    // HLL cardinality sketch (Sketches.hllEstimate): 64 registers over
    // distinct users — linear-counting regime at sf<=0.01 (few users,
    // empty registers), raw-estimator regime at sf0.1, so both branches
    // of the standard estimator are oracle-gated. Exact distinct rides
    // along for the error contrast.
    QueryDef("q88_hll", (s, dir) => {
      val ev = events(s, dir)
      val exact = ev.agg(countDistinct(col("user_id")).as("exact_distinct"))
      Sketches.hllEstimate(ev, col("user_id").cast("string"), p = 6)
        .crossJoin(broadcast(exact))
    },
      """WITH h AS (
           SELECT ('0x' || substring(md5('0:' || CAST(user_id AS VARCHAR)),
             1, 12))::BIGINT AS h
           FROM events),
         rk AS (
           SELECT h % 64 AS bucket,
             CASE WHEN h // 64 = 0 THEN 43
                  ELSE 43 - length(format('{:b}', h // 64)) END AS rank
           FROM h),
         reg AS (SELECT bucket, max(rank) AS mx FROM rk GROUP BY 1),
         s AS (SELECT CAST(count(*) AS BIGINT) AS nz,
                 list_sum(list_sort(list(
                   power(CAST(2 AS DOUBLE), -mx)))) AS s
               FROM reg),
         e AS (SELECT nz, s + (CAST(64 AS DOUBLE) - nz) AS st,
                 64 - nz AS v FROM s),
         raw AS (SELECT nz, v,
                   CAST(0.709 AS DOUBLE) * CAST(64 AS DOUBLE)
                     * CAST(64 AS DOUBLE) / st AS eraw
                 FROM e),
         fin AS (SELECT CASE WHEN eraw <= CAST(160 AS DOUBLE) AND v > 0
                   THEN CAST(64 AS DOUBLE) * ln(CAST(64 AS DOUBLE) / v)
                   ELSE eraw END AS est, nz FROM raw),
         x AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT)
                 AS exact_distinct FROM events)
         SELECT round(est, 4) AS est_distinct, nz AS nonzero_buckets,
           exact_distinct
         FROM fin, x"""),

    // Ordered FUNNEL (Behavior.funnel): view → click → purchase,
    // strictly ordered AND converting within 2 hours of the previous
    // stage — real drop-off at every SF. Stage chain = user-keyed
    // min-aggs + co-keyed joins, no global ordering anywhere.
    QueryDef("q94_funnel", (s, dir) => {
      Behavior.funnel(events(s, dir), "user_id", "event_type", "ts",
          Seq("view", "click", "purchase"), windowSeconds = Some(7200L))
        .orderBy("stage_idx")
    },
      """WITH s0 AS (SELECT user_id, min(ts) AS t0 FROM events
                     WHERE event_type = 'view' GROUP BY 1),
         s1 AS (SELECT e.user_id, min(e.ts) AS t1 FROM events e
                JOIN s0 USING (user_id)
                WHERE e.event_type = 'click' AND e.ts > s0.t0
                  AND e.ts <= s0.t0 + INTERVAL 7200 SECOND GROUP BY 1),
         s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
                JOIN s1 USING (user_id)
                WHERE e.event_type = 'purchase' AND e.ts > s1.t1
                  AND e.ts <= s1.t1 + INTERVAL 7200 SECOND GROUP BY 1)
         SELECT stage_idx, stage, users FROM (
           VALUES (0, 'view', (SELECT count(*) FROM s0)),
                  (1, 'click', (SELECT count(*) FROM s1)),
                  (2, 'purchase', (SELECT count(*) FROM s2)))
           AS v(stage_idx, stage, users)
         ORDER BY stage_idx"""),

    // COHORT retention triangle (Behavior.cohortRetention): first-
    // activity week cohorts × week offset, distinct-user counts; week
    // index is pure integer date arithmetic (no engine week-of-year
    // convention).
    QueryDef("q95_cohort", (s, dir) => {
      Behavior.cohortRetention(events(s, dir), "user_id", "ts")
        .orderBy("cohort_week", "week_offset")
    },
      """WITH weekly AS (
           SELECT DISTINCT user_id,
             datediff('day', DATE '1970-01-05', CAST(ts AS DATE)) // 7 AS w
           FROM events),
         coh AS (SELECT user_id, min(w) AS cw FROM weekly GROUP BY 1)
         SELECT cw AS cohort_week, w - cw AS week_offset,
           count(*) AS users
         FROM weekly JOIN coh USING (user_id)
         GROUP BY 1, 2 ORDER BY 1, 2"""),

    // TIME-SERIES GAP FILL: per-user daily scaffold (sequence+explode
    // between first and last event day) left-joined with the day's
    // closing value, forward-filled by an IGNORE NULLS window — the
    // resample/ffill primitive for event telemetry. Values pass
    // through untouched (no float re-aggregation).
    QueryDef("q80_gap_fill", (s, dir) => {
      val e = events(s, dir)
      val daily = e.groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(max(struct(col("ts"), col("event_id"), col("value")))
          .getField("value").as("day_value"))
      val scaffold = e.groupBy(col("user_id"))
        .agg(min(to_date(col("ts"))).as("d0"),
          max(to_date(col("ts"))).as("d1"))
        .select(col("user_id"),
          explode(sequence(col("d0"), col("d1"),
            expr("INTERVAL 1 DAY"))).as("day"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, 0)
      scaffold.join(daily, Seq("user_id", "day"), "left")
        .select(col("user_id"),
          date_format(col("day"), "yyyy-MM-dd").as("day"),
          last(col("day_value"), ignoreNulls = true).over(w).as("value"),
          col("day_value").isNotNull.cast("long").as("observed"))
        .orderBy("user_id", "day")
    },
      """WITH daily AS (
           SELECT user_id, day, day_value FROM (
             SELECT user_id, CAST(ts AS DATE) AS day, value AS day_value,
               row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                 ORDER BY ts DESC, event_id DESC) AS rn
             FROM events) WHERE rn = 1),
         bounds AS (
           SELECT user_id, min(CAST(ts AS DATE)) AS d0,
             max(CAST(ts AS DATE)) AS d1
           FROM events GROUP BY 1),
         scaffold AS (
           SELECT user_id, CAST(unnest(generate_series(d0, d1,
             INTERVAL 1 DAY)) AS DATE) AS day
           FROM bounds)
         SELECT s.user_id, strftime(s.day, '%Y-%m-%d') AS day,
           last_value(d.day_value IGNORE NULLS) OVER (
             PARTITION BY s.user_id ORDER BY s.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
           CAST(d.day_value IS NOT NULL AS BIGINT) AS observed
         FROM scaffold s LEFT JOIN daily d
           ON d.user_id = s.user_id AND d.day = s.day
         ORDER BY s.user_id, s.day"""),

    // FORWARD as-of with tolerance (AsOf.join direction="forward"):
    // each click resolves to the user's FIRST purchase in [click,
    // click+30min] — the 1:1 first-match complement of q67's
    // all-matches interval join. Same single-shuffle union+window plan
    // as the backward form, scanned in the opposite direction.
    QueryDef("q77_asof_forward", (s, dir) => {
      val e = events(s, dir)
      val clicks = e.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val buys = e.filter(col("event_type") === "purchase")
        .select("user_id", "ts")
      AsOf.join(clicks, buys, "user_id", "ts", "ts", valueCols = Nil,
          direction = "forward",
          tolerance = Some(expr("INTERVAL 30 MINUTES")))
        .select(col("event_id"),
          date_format(col("asof_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .as("asof_ts"))
        .orderBy("event_id")
    },
      """SELECT c.event_id,
           strftime((SELECT min(p.ts) FROM events p
                     WHERE p.user_id = c.user_id
                       AND p.event_type = 'purchase'
                       AND p.ts >= c.ts
                       AND p.ts <= c.ts + INTERVAL 30 MINUTE),
                    '%Y-%m-%d %H:%M:%S.%f') AS asof_ts
         FROM events c WHERE c.event_type = 'click'
         ORDER BY c.event_id"""),

    // LINEAR INTERPOLATION gap fill — the interpolating sibling of
    // q80's LOCF: per-user daily series, missing days filled by
    // time-weighted linear blend of the bracketing observations. Two
    // windows over ONE user-keyed shuffle (forward scan + backward
    // scan), map-side arithmetic; exact integer day weights.
    QueryDef("q135_linear_interp", (s, dir) => {
      val e = events(s, dir)
      val daily = e.groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(max(struct(col("ts"), col("event_id"), col("value")))
          .getField("value").as("v"))
      val scaffold = e.groupBy(col("user_id"))
        .agg(min(to_date(col("ts"))).as("d0"),
          max(to_date(col("ts"))).as("d1"))
        .select(col("user_id"),
          explode(sequence(col("d0"), col("d1"),
            expr("INTERVAL 1 DAY"))).as("day"))
      val grid = scaffold.join(daily, Seq("user_id", "day"), "left")
      val back = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val fwd = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(0, Window.unboundedFollowing)
      grid
        .withColumn("pv", last(col("v"), ignoreNulls = true).over(back))
        .withColumn("pd", last(when(col("v").isNotNull, col("day")),
          ignoreNulls = true).over(back))
        .withColumn("nv", first(col("v"), ignoreNulls = true).over(fwd))
        .withColumn("nd", first(when(col("v").isNotNull, col("day")),
          ignoreNulls = true).over(fwd))
        .select(col("user_id"), date_format(col("day"), "yyyy-MM-dd")
            .as("day"),
          round(when(col("v").isNotNull, col("v"))
            .otherwise(col("pv") + (col("nv") - col("pv")) *
              (datediff(col("day"), col("pd")).cast("double") /
                datediff(col("nd"), col("pd")).cast("double"))), 4)
            .as("v"))
        .orderBy("user_id", "day")
    },
      """WITH daily AS (
           SELECT user_id, day, v FROM (
             SELECT user_id, CAST(ts AS DATE) AS day, value AS v,
               row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                 ORDER BY ts DESC, event_id DESC) AS rn
             FROM events) WHERE rn = 1),
         span AS (
           SELECT user_id, min(CAST(ts AS DATE)) AS d0,
             max(CAST(ts AS DATE)) AS d1
           FROM events GROUP BY 1),
         scaffold AS (
           SELECT user_id, unnest(generate_series(d0, d1,
             INTERVAL 1 DAY))::DATE AS day
           FROM span),
         grid AS (
           SELECT s.user_id, s.day, d.v
           FROM scaffold s LEFT JOIN daily d
             ON d.user_id = s.user_id AND d.day = s.day),
         f AS (
           SELECT user_id, day, v,
             last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
               ORDER BY day ROWS UNBOUNDED PRECEDING) AS pv,
             last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY day
                 ROWS UNBOUNDED PRECEDING) AS pd,
             first_value(v IGNORE NULLS) OVER (PARTITION BY user_id
               ORDER BY day ROWS BETWEEN CURRENT ROW
                 AND UNBOUNDED FOLLOWING) AS nv,
             first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY day
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
           FROM grid)
         SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
           round(CASE WHEN v IS NOT NULL THEN v
             ELSE pv + (nv - pv) *
               (CAST(date_diff('day', pd, day) AS DOUBLE) /
                CAST(date_diff('day', pd, nd) AS DOUBLE)) END, 4) AS v
         FROM f ORDER BY user_id, day"""),

    // CUMULATIVE DISTINCT USERS per day (new vs returning): first-seen
    // day per user (one shuffle over users), new-user counts per day,
    // then a running sum over DAY-GRAIN rows only — the global window
    // is bounded by calendar cardinality, never by the event stream.
    QueryDef("q140_cumulative_users", (s, dir) => {
      val firstSeen = events(s, dir).groupBy("user_id")
        .agg(min(to_date(col("ts"))).as("day"))
      val perDay = firstSeen.groupBy("day")
        .agg(count(lit(1)).as("new_users"))
      val w = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, 0)
      perDay
        .withColumn("cum_users", sum(col("new_users")).over(w))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("new_users"), col("cum_users"))
        .orderBy("day")
    },
      """WITH fs AS (
           SELECT user_id, min(CAST(ts AS DATE)) AS day
           FROM events GROUP BY 1),
         pd AS (SELECT day, count(*) AS new_users FROM fs GROUP BY 1)
         SELECT strftime(day, '%Y-%m-%d') AS day, new_users,
           sum(new_users) OVER (ORDER BY day
             ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_users
         FROM pd ORDER BY day"""),

    // SEQUENCE MINING: top-10 event-type TRIGRAMS across per-user
    // ordered streams (q106's Markov pairs, one order deeper) — two
    // leads over one user-keyed window, then an (event-type)³-bounded
    // count table; top-k via TakeOrdered with a total tiebreak.
    QueryDef("q141_trigram_paths", (s, dir) => {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      events(s, dir)
        .select(col("event_type").as("e1"),
          lead(col("event_type"), 1).over(byUser).as("e2"),
          lead(col("event_type"), 2).over(byUser).as("e3"))
        .filter(col("e2").isNotNull && col("e3").isNotNull)
        .groupBy("e1", "e2", "e3").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("e1"), col("e2"), col("e3"))
        .limit(10)
    },
      """WITH t AS (
           SELECT event_type AS e1,
             lead(event_type, 1) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS e2,
             lead(event_type, 2) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS e3
           FROM events)
         SELECT e1, e2, e3, count(*) AS n
         FROM t WHERE e2 IS NOT NULL AND e3 IS NOT NULL
         GROUP BY 1, 2, 3
         ORDER BY n DESC, e1, e2, e3 LIMIT 10"""),

    // TIME-OF-WEEK ACTIVITY PROFILE: (day-of-week, hour) heatmap of
    // event counts + exact cent sums. Day-of-week via day-diff from a
    // fixed Monday epoch (engine-agnostic arithmetic — both engines'
    // native dayofweek() disagree on numbering); 168 cells, map-side.
    QueryDef("q142_time_profile", (s, dir) => {
      events(s, dir)
        .select(
          (datediff(to_date(col("ts")), lit("1970-01-05").cast("date"))
            % 7).as("dow"),
          hour(col("ts")).as("hr"),
          round(col("value") * 100, 0).cast("long").as("cents"))
        .groupBy("dow", "hr")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
        .orderBy("dow", "hr")
    },
      // dow from a fixed Monday epoch, not dayofweek(): Spark (1=Sun) and
      // DuckDB (0=Sun) number weekdays differently, day-diff mod 7 is
      // engine-neutral.
      """SELECT date_diff('day', DATE '1970-01-05', CAST(ts AS DATE)) % 7
             AS dow,
           hour(ts) AS hr, count(*) AS n,
           sum(round(value * 100)::BIGINT)::BIGINT AS sum_cents
         FROM events GROUP BY 1, 2 ORDER BY 1, 2"""),

    // SESSION PATH ANALYSIS: the first 5 event types of each 30-minute
    // session, as a '>'-joined journey string, counted across sessions.
    // The per-session collect is BOUNDED BEFORE aggregation (rn ≤ 5
    // filter), so no buffer scales with session length — the q82 rule
    // applied to journey mining.
    QueryDef("q144_session_paths", (s, dir) => {
      val e = events(s, dir)
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val gapped = e.select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"),
          // exact timestamp arithmetic (micros), same shape as q52's
          // oracle — no epoch-second truncation at the gap boundary
          when(col("ts") > lag(col("ts"), 1).over(byUser) +
              expr("INTERVAL 30 MINUTES")
              || lag(col("ts"), 1).over(byUser).isNull, 1L)
            .otherwise(0L).as("new_s"))
        .withColumn("sid", sum(col("new_s")).over(
          byUser.rowsBetween(Window.unboundedPreceding, 0)))
      val bySession = Window.partitionBy(col("user_id"), col("sid"))
        .orderBy(col("ts"), col("event_id"))
      val firstN = gapped
        .withColumn("rn", row_number().over(bySession))
        .filter(col("rn") <= 5)
      firstN.groupBy("user_id", "sid")
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("rn"), col("event_type")))),
          x => x.getField("event_type")), ">").as("path"))
        .groupBy("path").agg(count(lit(1)).as("n_sessions"))
        .orderBy("path")
    },
      """WITH o AS (
           SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (
           SELECT user_id, ts, event_id, event_type,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS sid
           FROM o),
         r AS (
           SELECT user_id, sid, event_type,
             row_number() OVER (PARTITION BY user_id, sid
               ORDER BY ts, event_id) AS rn
           FROM s),
         p AS (
           SELECT user_id, sid,
             string_agg(event_type, '>' ORDER BY rn) AS path
           FROM r WHERE rn <= 5 GROUP BY 1, 2)
         SELECT path, count(*) AS n_sessions
         FROM p GROUP BY 1 ORDER BY path"""),

    // ROLLING DISTINCT USERS (DAU/WAU): daily actives + 7-day rolling
    // distinct actives. A distinct-over-sliding-window is computed by
    // EXPLODING each (user, active-day) into the 7 window-end days it
    // supports, then one countDistinct per day — a 7× fan-out of the
    // (user, day)-distinct frame (calendar-bounded), never a window
    // over the raw stream.
    QueryDef("q148_rolling_wau", (s, dir) => {
      val ud = events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val dau = ud.groupBy("day").agg(countDistinct(col("user_id"))
        .as("dau"))
      val wau = ud
        .select(col("user_id"), explode(sequence(col("day"),
          date_add(col("day"), 6), expr("INTERVAL 1 DAY"))).as("day"))
        .groupBy("day").agg(countDistinct(col("user_id")).as("wau"))
      dau.join(wau, Seq("day"))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("dau"), col("wau"))
        .orderBy("day")
    },
      """WITH ud AS (
           SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
         dau AS (
           SELECT day, count(DISTINCT user_id)::BIGINT AS dau
           FROM ud GROUP BY 1),
         w AS (
           SELECT user_id, unnest(generate_series(day, day + 6,
             INTERVAL 1 DAY))::DATE AS day
           FROM ud),
         wau AS (
           SELECT day, count(DISTINCT user_id)::BIGINT AS wau
           FROM w GROUP BY 1)
         SELECT strftime(d.day, '%Y-%m-%d') AS day, d.dau, w2.wau
         FROM dau d JOIN wau w2 USING (day) ORDER BY day"""),

    // FEATURE-STORE BUILD: the per-user wide feature vector a training
    // pipeline materializes — event-type counts (conditional sums, no
    // pivot shuffle), exact cent totals, activity span — ONE groupBy
    // over the stream, map-side partials for every column.
    QueryDef("q150_user_features", (s, dir) => {
      val e = events(s, dir)
      def n(tpe: String) =
        sum(when(col("event_type") === tpe, 1L).otherwise(0L))
          .as(s"n_$tpe")
      e.groupBy("user_id")
        .agg(n("click"), n("view"), n("purchase"), n("signup"),
          n("error"),
          sum(round(col("value") * 100, 0).cast("long")).as("total_cents"),
          countDistinct(to_date(col("ts"))).as("active_days"),
          date_format(min(col("ts")), "yyyy-MM-dd").as("first_day"),
          date_format(max(col("ts")), "yyyy-MM-dd").as("last_day"))
        .orderBy("user_id")
    },
      """SELECT user_id,
           sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT
             AS n_click,
           sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT
             AS n_view,
           sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT
             AS n_purchase,
           sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::BIGINT
             AS n_signup,
           sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT
             AS n_error,
           sum(round(value * 100)::BIGINT)::BIGINT AS total_cents,
           count(DISTINCT CAST(ts AS DATE))::BIGINT AS active_days,
           strftime(min(ts), '%Y-%m-%d') AS first_day,
           strftime(max(ts), '%Y-%m-%d') AS last_day
         FROM events GROUP BY 1 ORDER BY user_id"""),

    // GAPS-AND-ISLANDS activity streaks: per user, maximal runs of
    // consecutive active days via the classic day − row_number()
    // grouping constant — ONE window shuffle on user, two integer
    // aggregations; no self-join, no calendar explosion. Reports streak
    // count, longest streak, and the (earliest) start of a longest
    // streak — ties broken by min date so the row is deterministic.
    QueryDef("q156_activity_streaks", (s, dir) => {
      val ud = events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val w = Window.partitionBy("user_id").orderBy("day")
      val isl = ud
        .withColumn("grp", date_sub(col("day"), row_number().over(w)))
        .groupBy("user_id", "grp")
        .agg(count(lit(1)).as("len"), min(col("day")).as("start"))
      isl.withColumn("mx", max(col("len")).over(
          Window.partitionBy("user_id")))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_streaks"),
          max(col("len")).as("longest"),
          date_format(min(when(col("len") === col("mx"), col("start"))),
            "yyyy-MM-dd").as("longest_start"))
        .orderBy("user_id")
    },
      """WITH ud AS (
           SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
         i AS (
           SELECT user_id, day,
             day - CAST(row_number() OVER (PARTITION BY user_id
               ORDER BY day) AS INTEGER) AS grp
           FROM ud),
         isl AS (
           SELECT user_id, grp, count(*)::BIGINT AS len, min(day) AS start
           FROM i GROUP BY 1, 2),
         mx AS (SELECT user_id, max(len) AS mx FROM isl GROUP BY 1)
         SELECT isl.user_id, count(*)::BIGINT AS n_streaks,
           max(len)::BIGINT AS longest,
           strftime(min(CASE WHEN len = mx THEN start END), '%Y-%m-%d')
             AS longest_start
         FROM isl JOIN mx ON isl.user_id = mx.user_id
         GROUP BY 1 ORDER BY 1"""),

    // ROBUST OUTLIER DETECTION via MAD (median absolute deviation):
    // per event type, med = percentile_disc(0.5), MAD = median of
    // |v − med|, outliers = |v − med| > 3·MAD. percentile_disc RETURNS
    // AN ELEMENT (deterministic, unlike interpolating estimators), so
    // the whole chain is exact; the two medians broadcast back as
    // model-sized frames — three aggregations, no window over the raw
    // stream, no sort of the full data.
    QueryDef("q158_mad_outliers", (s, dir) => {
      val ev = events(s, dir).select(col("event_type"), col("value"))
      val med = ev.groupBy("event_type")
        .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)")
          .as("med"))
      val dev = ev.join(broadcast(med), Seq("event_type"))
        .withColumn("adev", abs(col("value") - col("med")))
      val mad = dev.groupBy("event_type")
        .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY adev)")
          .as("mad"))
      dev.join(broadcast(mad), Seq("event_type"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(max(col("med")), 4).as("med"),
          round(max(col("mad")), 4).as("mad"),
          sum((col("adev") > lit(3.0) * col("mad")).cast("long"))
            .as("n_outliers"))
        .orderBy("event_type")
    },
      """WITH med AS (
           SELECT event_type, quantile_disc(value, 0.5) AS med
           FROM events GROUP BY 1),
         dev AS (
           SELECT e.event_type, abs(e.value - m.med) AS adev, m.med
           FROM events e JOIN med m USING (event_type)),
         mad AS (
           SELECT event_type, quantile_disc(adev, 0.5) AS mad
           FROM dev GROUP BY 1)
         SELECT d.event_type, count(*)::BIGINT AS n,
           round(max(d.med), 4) AS med, round(max(m.mad), 4) AS mad,
           sum((d.adev > 3.0::DOUBLE * m.mad)::BIGINT)::BIGINT
             AS n_outliers
         FROM dev d JOIN mad m USING (event_type)
         GROUP BY 1 ORDER BY 1"""),

    // BITMAP-WORD DISTINCT AGGREGATION (roaring-bitmap idea in pure
    // SQL): distinct users per event type via 63-bit words — bit_or of
    // (1 << id mod 63) grouped by (type, id div 63), then Σ bit_count.
    // The bitmap form's shuffle rows are CAPPED at |id-space|/63 per
    // group regardless of event volume (countDistinct shuffles every
    // distinct id), and words merge associatively — the same reason
    // warehouse engines keep bitmap indexes. 63-bit words sidestep
    // signed-shift overflow on bit 63. Gated against exact
    // countDistinct in the same row.
    QueryDef("q159_bitmap_distinct", (s, dir) => {
      val ev = events(s, dir)
      val words = ev.select(col("event_type"),
          expr("user_id div 63").as("word"),
          expr("shiftleft(1L, cast(user_id % 63 as int))").as("bitv"))
        .groupBy("event_type", "word")
        .agg(expr("bit_or(bitv)").as("bits"))
      val viaBitmap = words.groupBy("event_type")
        .agg(expr("sum(bit_count(bits))").as("n_bitmap"),
          count(lit(1)).as("n_words"))
      val exact = ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_exact"))
      viaBitmap.join(exact, Seq("event_type"))
        .select(col("event_type"), col("n_exact"), col("n_bitmap"),
          col("n_words"), (col("n_exact") === col("n_bitmap")).as("agree"))
        .orderBy("event_type")
    },
      """WITH w AS (
           SELECT event_type, user_id // 63 AS word,
             bit_or(1::BIGINT << (user_id % 63)::INT) AS bits
           FROM events GROUP BY 1, 2),
         b AS (
           SELECT event_type, sum(bit_count(bits))::BIGINT AS n_bitmap,
             count(*)::BIGINT AS n_words
           FROM w GROUP BY 1),
         x AS (
           SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_exact
           FROM events GROUP BY 1)
         SELECT b.event_type, x.n_exact, b.n_bitmap, b.n_words,
           (x.n_exact = b.n_bitmap) AS agree
         FROM b JOIN x USING (event_type) ORDER BY event_type"""),

    // GROUPED KLL quantile contract (q151 per group): one mergeable
    // sketch per event type in a single pass — the shape a 100 TB
    // profiling job actually runs (per-partition/day sketches that
    // merge upward). Same rank-error gate, exact quantiles from one
    // percentile(array(...)) buffer per group.
    QueryDef("q163_kll_grouped", (s, dir) => {
      val probes = Seq(25, 50, 75, 90)
      val eps = 0.05
      // native form — see q151's note / KllQuantiles scaladoc
      val sk = (c: Column) => graft.functions.KllQuantiles
        .kllQuantiles(c, 512, probes.map(_ / 100.0))
      val vals = events(s, dir)
        .select(col("event_type"), col("value").cast("double").as("v"))
      // Measured rejection (r15, verdict item 6): swapping the exact
      // ground truth to Selection.exactQuantilesContGrouped
      // (bit-parity pinned by SelectionSpec's grouped differential
      // test) ran 1.21 -> 2.05 s isolated at sf0.1 — three selection
      // passes + joins vs ONE grouped agg computing KLL + percentile
      // + count together, while the per-type value maps stay
      // memory-resident at every bench SF. The grouped selection
      // remains the scale path for corpus-sized per-group domains.
      val est = vals.groupBy("event_type").agg(
        sk(col("v")).as("ests"),
        expr(s"percentile(v, array(${probes.map(_ / 100.0).mkString(",")}))")
          .as("exacts"),
        count(lit(1)).as("n"))
      val probed = est.select(col("event_type"), col("ests"),
          col("exacts"), col("n"), posexplode(lit(probes.toArray)))
        .select(col("event_type"), col("col").as("probe_pct"),
          element_at(col("ests"), col("pos") + 1).as("est"),
          element_at(col("exacts"), col("pos") + 1).as("exact_q"),
          col("n"))
      vals.join(broadcast(probed), Seq("event_type"))
        .groupBy("event_type", "probe_pct", "exact_q", "n")
        .agg(sum(when(col("v") <= col("est"), 1L).otherwise(0L)).as("rk"))
        .select(col("event_type"), col("probe_pct"),
          round(col("exact_q"), 4).as("exact_q"),
          (abs(col("rk") - ceil(col("probe_pct") / lit(100.0) * col("n")))
            <= lit(eps) * col("n")).as("within_eps"))
        .orderBy("event_type", "probe_pct")
    },
      """WITH q AS (
           SELECT event_type,
             quantile_cont(CAST(value AS DOUBLE), [0.25, 0.5, 0.75, 0.9])
               AS qs
           FROM events GROUP BY 1)
         SELECT event_type, 25 AS probe_pct, round(qs[1], 4) AS exact_q,
           true AS within_eps FROM q
         UNION ALL SELECT event_type, 50, round(qs[2], 4), true FROM q
         UNION ALL SELECT event_type, 75, round(qs[3], 4), true FROM q
         UNION ALL SELECT event_type, 90, round(qs[4], 4), true FROM q
         ORDER BY event_type, probe_pct"""),

    // A/B EXPERIMENT READOUT: two-proportion z-test on per-user
    // conversion (any purchase), cohorts split by user-id parity — the
    // experiment-analysis primitive. Conversion flags and cohort
    // counts are EXACT integers from one user-grain aggregation; the
    // z statistic is a fixed sequence of double ops over those
    // integers (sqrt is IEEE-exact), so both engines produce the same
    // bits. No per-event state survives the first groupBy.
    QueryDef("q164_ab_test", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      // conversion = heavy purchaser (> 13 purchases, the corpus
      // median) — a per-user flag with genuine variance in both
      // cohorts; any-purchase converts at 100% here and degenerates
      // the pooled variance to zero
      val perUser = events(s, dir).groupBy("user_id")
        .agg((sum(when(col("event_type") === "purchase", 1L)
          .otherwise(0L)) > 13L).cast("long").as("conv"))
        .withColumn("grp", pmod(col("user_id"), lit(2)))
      val r = perUser.groupBy("grp")
        .agg(count(lit(1)).as("n"), sum(col("conv")).as("c"))
        .agg(sum(when(col("grp") === 0, col("n"))).as("n_a"),
          sum(when(col("grp") === 0, col("c"))).as("c_a"),
          sum(when(col("grp") === 1, col("n"))).as("n_b"),
          sum(when(col("grp") === 1, col("c"))).as("c_b"))
      r.withColumn("p_a", d(col("c_a")) / d(col("n_a")))
        .withColumn("p_b", d(col("c_b")) / d(col("n_b")))
        .withColumn("p_pool",
          (d(col("c_a")) + d(col("c_b"))) / (d(col("n_a")) + d(col("n_b"))))
        .select(col("n_a"), col("c_a"), col("n_b"), col("c_b"),
          round(col("p_a"), 6).as("p_a"),
          round(col("p_b"), 6).as("p_b"),
          round((col("p_a") - col("p_b")) /
            sqrt(col("p_pool") * (lit(1.0) - col("p_pool")) *
              (lit(1.0) / d(col("n_a")) + lit(1.0) / d(col("n_b")))), 4)
            .as("z"))
    },
      """WITH u AS (
           SELECT user_id,
             (sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               > 13)::BIGINT AS conv, user_id % 2 AS grp
           FROM events GROUP BY 1),
         g AS (
           SELECT grp, count(*)::BIGINT AS n, sum(conv)::BIGINT AS c
           FROM u GROUP BY 1),
         s AS (
           SELECT
             sum(CASE WHEN grp = 0 THEN n END)::BIGINT AS n_a,
             sum(CASE WHEN grp = 0 THEN c END)::BIGINT AS c_a,
             sum(CASE WHEN grp = 1 THEN n END)::BIGINT AS n_b,
             sum(CASE WHEN grp = 1 THEN c END)::BIGINT AS c_b
           FROM g),
         m AS (
           SELECT *, c_a::DOUBLE / n_a::DOUBLE AS p_a,
             c_b::DOUBLE / n_b::DOUBLE AS p_b,
             (c_a::DOUBLE + c_b::DOUBLE) / (n_a::DOUBLE + n_b::DOUBLE)
               AS p_pool
           FROM s)
         SELECT n_a, c_a, n_b, c_b, round(p_a, 6) AS p_a,
           round(p_b, 6) AS p_b,
           round((p_a - p_b) / sqrt(p_pool * (1.0::DOUBLE - p_pool) *
             (1.0::DOUBLE / n_a::DOUBLE + 1.0::DOUBLE / n_b::DOUBLE)), 4)
             AS z
         FROM m"""),

    // WINSORIZATION (robust feature preprocessing): clip each event
    // value at its type's exact [p1, p99], report clip counts and the
    // clipped total. Bounds come from ONE percentile(array(...)) agg
    // per type (model-sized, broadcast back — the q107 idiom); the
    // clipped totals are EXACT integer cents of identical doubles, so
    // no float-sum drift. Two aggregations + a map-side clamp.
    QueryDef("q165_winsorize", (s, dir) => {
      val ev = events(s, dir)
        .select(col("event_type"), col("value").cast("double").as("v"))
      val bounds = ev.groupBy("event_type")
        .agg(expr("percentile(v, array(0.01, 0.99))").as("bs"))
        .select(col("event_type"), element_at(col("bs"), 1).as("lo"),
          element_at(col("bs"), 2).as("hi"))
      ev.join(broadcast(bounds), Seq("event_type"))
        .withColumn("cv", least(greatest(col("v"), col("lo")), col("hi")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum((col("v") < col("lo")).cast("long")).as("n_clipped_lo"),
          sum((col("v") > col("hi")).cast("long")).as("n_clipped_hi"),
          round(max(col("lo")), 4).as("p01"),
          round(max(col("hi")), 4).as("p99"),
          sum(round(col("cv") * 100, 0).cast("long")).as("clipped_cents"))
        .orderBy("event_type")
    },
      """WITH b AS (
           SELECT event_type,
             quantile_cont(CAST(value AS DOUBLE), [0.01, 0.99]) AS bs
           FROM events GROUP BY 1),
         j AS (
           SELECT e.event_type, CAST(e.value AS DOUBLE) AS v,
             bs[1] AS lo, bs[2] AS hi,
             least(greatest(CAST(e.value AS DOUBLE), bs[1]), bs[2]) AS cv
           FROM events e JOIN b USING (event_type))
         SELECT event_type, count(*)::BIGINT AS n,
           sum((v < lo)::BIGINT)::BIGINT AS n_clipped_lo,
           sum((v > hi)::BIGINT)::BIGINT AS n_clipped_hi,
           round(max(lo), 4) AS p01, round(max(hi), 4) AS p99,
           sum(round(cv * 100)::BIGINT)::BIGINT AS clipped_cents
         FROM j GROUP BY 1 ORDER BY 1"""),

    // POPULATION STABILITY INDEX (feature-drift monitoring between the
    // first and second half of the time span): expected bins = period-A
    // deciles (exact percentile boundaries, broadcast — the q107
    // idiom); PSI = Σ (p_B − p_A)·ln(p_B/p_A) with +0.5 count smoothing
    // so empty bins stay finite. The time split is exact integer
    // microseconds; bin counts are exact integers; doubles enter only
    // in the final fixed op sequence (ln parity is gated since q53).
    // One bounds agg + one (type, half, bin) count — two shuffles.
    QueryDef("q168_psi_drift", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val ev = events(s, dir).select(col("event_type"),
        col("value").cast("double").as("v"),
        expr("unix_micros(ts)").as("us"))
      val span = ev.agg(min(col("us")).as("mn"), max(col("us")).as("mx"))
        .select(expr("(mn + mx) div 2").as("mid"))
      val halved = ev.crossJoin(broadcast(span))
        .withColumn("is_a", col("us") < col("mid"))
      val binsA = halved.filter(col("is_a")).groupBy("event_type")
        .agg(expr("percentile(v, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))")
          .as("bs"))
      val binned = halved.join(broadcast(binsA), Seq("event_type"))
        .select(col("event_type"), col("is_a"),
          (lit(1) + size(filter(col("bs"), b => col("v") > b))).as("bin"))
        .groupBy("event_type", "bin")
        .agg(sum(when(col("is_a"), 1L).otherwise(0L)).as("ca"),
          sum(when(!col("is_a"), 1L).otherwise(0L)).as("cb"))
      val tot = binned.groupBy("event_type")
        .agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
      binned.join(broadcast(tot), Seq("event_type"))
        .withColumn("pa", (d(col("ca")) + lit(0.5)) / (d(col("na")) + lit(5.0)))
        .withColumn("pb", (d(col("cb")) + lit(0.5)) / (d(col("nb")) + lit(5.0)))
        .withColumn("term", (col("pb") - col("pa")) * log(col("pb") / col("pa")))
        .groupBy("event_type")
        .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
          round(ssum(collect_list(col("term"))), 6).as("psi"))
        .orderBy("event_type")
    },
      """WITH ev AS (
           SELECT event_type, CAST(value AS DOUBLE) AS v,
             epoch_us(ts) AS us
           FROM events),
         span AS (SELECT (min(us) + max(us)) // 2 AS mid FROM ev),
         h AS (SELECT ev.*, (us < mid) AS is_a FROM ev CROSS JOIN span),
         ba AS (
           SELECT event_type, quantile_cont(v,
             [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bs
           FROM h WHERE is_a GROUP BY 1),
         binned AS (
           SELECT h.event_type,
             1 + len(list_filter(bs, x -> h.v > x)) AS bin,
             sum(CASE WHEN is_a THEN 1 ELSE 0 END)::BIGINT AS ca,
             sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END)::BIGINT AS cb
           FROM h JOIN ba USING (event_type) GROUP BY 1, 2),
         tot AS (
           SELECT event_type, sum(ca)::BIGINT AS na, sum(cb)::BIGINT AS nb
           FROM binned GROUP BY 1),
         terms AS (
           SELECT b.event_type, t.na, t.nb,
             ((cb::DOUBLE + 0.5) / (nb::DOUBLE + 5.0)
               - (ca::DOUBLE + 0.5) / (na::DOUBLE + 5.0)) *
             ln(((cb::DOUBLE + 0.5) / (nb::DOUBLE + 5.0))
               / ((ca::DOUBLE + 0.5) / (na::DOUBLE + 5.0))) AS term
           FROM binned b JOIN tot t USING (event_type))
         SELECT event_type, max(na)::BIGINT AS n_a, max(nb)::BIGINT AS n_b,
           round(list_sum(list_sort(list(term))), 6) AS psi
         FROM terms GROUP BY 1 ORDER BY 1"""),

    // DAY-OF-WEEK SEASONALITY INDEX + residual spike counts (the
    // decomposition-lite drift/seasonality profile): per (type, dow)
    // mean vs overall mean from EXACT integer cents, residual spikes
    // detected with pure integer cross-multiplication
    // (cents·n_dow > 2·cents_dow ⇔ value > 2·dow-mean — no division,
    // no float compare). Engine-neutral dow via days-since-a-known-
    // Monday mod 7 (the q142 gotcha). Two aggregations + one broadcast
    // join back.
    QueryDef("q170_seasonality", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val ev = events(s, dir).select(col("event_type"),
        round(col("value") * 100, 0).cast("long").as("cents"),
        expr("(datediff(to_date(ts), date'1970-01-05') % 7 + 7) % 7")
          .as("dow"))
      val byDow = ev.groupBy("event_type", "dow")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cd"))
      val tot = ev.groupBy("event_type")
        .agg(count(lit(1)).as("nt"), sum(col("cents")).as("ct"))
      val spikes = ev.join(broadcast(byDow), Seq("event_type", "dow"))
        .filter(col("cents") * col("n") > lit(2) * col("cd"))
        .groupBy("event_type", "dow")
        .agg(count(lit(1)).as("n_spikes"))
      byDow.join(broadcast(tot), Seq("event_type"))
        .join(spikes, Seq("event_type", "dow"), "left")
        .select(col("event_type"), col("dow"), col("n"),
          round(d(col("cd")) / d(col("n")) / 100.0, 4).as("mean_val"),
          round((d(col("cd")) / d(col("n"))) /
            (d(col("ct")) / d(col("nt"))), 4).as("seasonal_index"),
          coalesce(col("n_spikes"), lit(0L)).as("n_spikes"))
        .orderBy("event_type", "dow")
    },
      """WITH ev AS (
           SELECT event_type, round(value * 100)::BIGINT AS cents,
             ((CAST(ts AS DATE) - DATE '1970-01-05') % 7 + 7) % 7 AS dow
           FROM events),
         bd AS (
           SELECT event_type, dow, count(*)::BIGINT AS n,
             sum(cents)::BIGINT AS cd
           FROM ev GROUP BY 1, 2),
         tt AS (
           SELECT event_type, count(*)::BIGINT AS nt,
             sum(cents)::BIGINT AS ct
           FROM ev GROUP BY 1),
         sp AS (
           SELECT ev.event_type, ev.dow, count(*)::BIGINT AS n_spikes
           FROM ev JOIN bd ON ev.event_type = bd.event_type
             AND ev.dow = bd.dow
           WHERE ev.cents * bd.n > 2 * bd.cd
           GROUP BY 1, 2)
         SELECT bd.event_type, bd.dow::BIGINT AS dow, bd.n,
           round(cd::DOUBLE / n::DOUBLE / 100.0, 4) AS mean_val,
           round((cd::DOUBLE / n::DOUBLE) / (ct::DOUBLE / nt::DOUBLE), 4)
             AS seasonal_index,
           coalesce(sp.n_spikes, 0)::BIGINT AS n_spikes
         FROM bd JOIN tt USING (event_type)
         LEFT JOIN sp ON bd.event_type = sp.event_type
           AND bd.dow = sp.dow
         ORDER BY bd.event_type, dow"""),

    // KMV θ-SKETCH SET ALGEBRA (pairwise audience overlap without a
    // pairwise distinct-count): per event-type the K=64 smallest
    // distinct user-hashes form the sketch; for each type pair the
    // union sketch's θ estimates |A∪B| and the common-hash fraction
    // scales it to |A∩B| (Beyer et al., SIGMOD'07). The gate carries
    // BOTH the estimate and the exact intersection — the estimate is
    // deterministic (md5 48-bit), so it hash-matches, and `ok` PROVES
    // the error bound holds in-data. Sketch build is one rank window
    // over distinct hashes; pair stage touches K-sized sketches only.
    QueryDef("q176_kmv_intersection", (s, dir) => {
      val K = 64
      val dh = events(s, dir)
        .select(col("event_type").as("ty"),
          TF.md5Hash48(col("user_id").cast("string")).as("h"))
        .distinct()
      val types = dh.select("ty").distinct()
      // broadcast the pair build: a plain non-equi self-join would plan
      // as a CartesianProduct (both sides shuffled) — ContractSpec gate
      val tagged = Caches.small(types.join(
          broadcast(Caches.small(types.select(col("ty").as("ty2")))),
          col("ty") < col("ty2"))
        .select(col("ty").as("ta"), col("ty2").as("tb")))
      val memb = dh.join(broadcast(tagged),
          col("ty") === col("ta") || col("ty") === col("tb"))
        .groupBy("ta", "tb", "h")
        .agg(max(when(col("ty") === col("ta"), 1).otherwise(0)).as("ina"),
          max(when(col("ty") === col("tb"), 1).otherwise(0)).as("inb"))
      val unionTop = memb.withColumn("rn", row_number().over(
          Window.partitionBy("ta", "tb").orderBy("h")))
        .filter(col("rn") <= K)
      val sk = unionTop.groupBy("ta", "tb")
        .agg(max(col("h")).as("theta"), count(lit(1)).as("k"),
          sum(col("ina") * col("inb")).as("common"))
        .withColumn("est_union",
          when(col("k") < K, col("k").cast("double"))
            .otherwise(lit((K - 1).toDouble) * lit(math.pow(2, 48)) /
              col("theta").cast("double")))
        .withColumn("est_inter", col("common").cast("double") / col("k")
          * col("est_union"))
      val exact = memb.filter(col("ina") === 1 && col("inb") === 1)
        .groupBy("ta", "tb").agg(count(lit(1)).as("exact_inter"))
      sk.join(exact, Seq("ta", "tb"), "left")
        .select(col("ta"), col("tb"),
          coalesce(col("exact_inter"), lit(0L)).as("exact_inter"),
          col("common"), round(col("est_inter"), 1).as("est_inter"),
          (abs(col("est_inter") -
            coalesce(col("exact_inter"), lit(0L)).cast("double")) <=
            lit(0.25) * coalesce(col("exact_inter"), lit(0L)) + lit(50.0))
            .as("ok"))
        .orderBy("ta", "tb")
    },
      """WITH dh AS (
           SELECT DISTINCT event_type AS ty,
             ('0x' || substring(md5('0:' || user_id), 1, 12))::BIGINT AS h
           FROM events),
         ty AS (SELECT DISTINCT ty FROM dh),
         pairs AS (
           SELECT a.ty AS ta, b.ty AS tb
           FROM ty a JOIN ty b ON a.ty < b.ty),
         memb AS (
           SELECT ta, tb, h,
             max(CASE WHEN dh.ty = ta THEN 1 ELSE 0 END) AS ina,
             max(CASE WHEN dh.ty = tb THEN 1 ELSE 0 END) AS inb
           FROM dh JOIN pairs ON dh.ty = ta OR dh.ty = tb
           GROUP BY 1, 2, 3),
         ut AS (
           SELECT *, row_number() OVER (PARTITION BY ta, tb ORDER BY h)
             AS rn
           FROM memb),
         sk AS (
           SELECT ta, tb, max(h) AS theta, count(*)::BIGINT AS k,
             sum(ina * inb)::BIGINT AS common
           FROM ut WHERE rn <= 64 GROUP BY 1, 2),
         est AS (
           SELECT ta, tb, k, common,
             CASE WHEN k < 64 THEN k::DOUBLE
               ELSE 63::DOUBLE * 281474976710656::DOUBLE
                 / theta::DOUBLE END AS est_union
           FROM sk),
         ex AS (
           SELECT ta, tb, count(*)::BIGINT AS exact_inter
           FROM memb WHERE ina = 1 AND inb = 1 GROUP BY 1, 2)
         SELECT e.ta, e.tb,
           coalesce(x.exact_inter, 0)::BIGINT AS exact_inter, e.common,
           round(e.common::DOUBLE / e.k * e.est_union, 1) AS est_inter,
           (abs(e.common::DOUBLE / e.k * e.est_union
              - coalesce(x.exact_inter, 0)::DOUBLE)
            <= 0.25 * coalesce(x.exact_inter, 0) + 50.0) AS ok
         FROM est e LEFT JOIN ex x ON e.ta = x.ta AND e.tb = x.tb
         ORDER BY e.ta, e.tb"""),

    // TRUNCATED EWMA SMOOTHING of the per-type daily series (the
    // forecast-feature primitive): the event stream collapses to one
    // row per (type, day) FIRST — the series is bounded by the
    // calendar, not the data — then a 30-step exponential window
    // (α=0.25) runs as an index-range self-join on the tiny series.
    // Weights are fixed powers; both engines fold the weighted terms in
    // ascending sorted order (sorted_sum_d ≡ list_sum∘list_sort), so
    // the double summation is order-deterministic.
    QueryDef("q177_ewma", (s, dir) => {
      val daily = events(s, dir)
        .groupBy(col("event_type").as("ty"), to_date(col("ts")).as("day"))
        .agg(sum(round(col("value") * 100, 0).cast("long")).as("cents"))
        .withColumn("t", row_number().over(
          Window.partitionBy("ty").orderBy("day")).cast("long"))
      val a = daily.select(col("ty"), col("day"), col("t"))
      val b = daily.select(col("ty").as("ty2"), col("t").as("j"),
        col("cents"))
      a.join(b, col("ty") === col("ty2") &&
          col("j").between(col("t") - 29, col("t")))
        .withColumn("w", pow(lit(0.75), (col("t") - col("j")).cast("double")))
        .groupBy(col("ty"), col("day"))
        .agg(count(lit(1)).as("n_window"),
          (round(ssum(collect_list(col("cents").cast("double") * col("w")))
            / ssum(collect_list(col("w"))) / 100.0, 4) + 0.0).as("ewma"))
        .select(col("ty"), date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("n_window"), col("ewma"))
        .orderBy("ty", "day")
    },
      """WITH daily AS (
           SELECT event_type AS ty, CAST(ts AS DATE) AS day,
             sum(round(value * 100)::BIGINT)::BIGINT AS cents,
             row_number() OVER (PARTITION BY event_type
               ORDER BY CAST(ts AS DATE)) AS t
           FROM events GROUP BY 1, 2),
         j AS (
           SELECT a.ty, a.day, b.cents,
             power(0.75, (a.t - b.t)::DOUBLE) AS w
           FROM daily a JOIN daily b ON a.ty = b.ty
             AND b.t BETWEEN a.t - 29 AND a.t)
         SELECT ty, day::VARCHAR AS day, count(*)::BIGINT AS n_window,
           round(list_sum(list_sort(list(cents::DOUBLE * w)))
             / list_sum(list_sort(list(w))) / 100.0, 4) + 0.0 AS ewma
         FROM j GROUP BY ty, day ORDER BY ty, day"""),

    // MAXIMUM DRAWDOWN per user over a signed running P&L (risk
    // analytics on event streams): deltas are exact cents signed by
    // event-id parity; running sum, running peak, and drawdown are
    // three frames over ONE per-user window sort; the report row is
    // the argmax-drawdown row picked by a deterministic rank — one
    // shuffle total, no self-join, all arithmetic integer until the
    // final /100 display division.
    QueryDef("q178_drawdown", (s, dir) => {
      val ev = events(s, dir).select(col("user_id"), col("ts"),
        col("event_id"),
        (when(col("event_id") % 2 === 0, 1L).otherwise(-1L) *
          round(col("value") * 100, 0).cast("long")).as("delta"))
      val ord = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      val run = ord.rowsBetween(Window.unboundedPreceding, 0)
      val full = Window.partitionBy("user_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      ev.withColumn("cum", sum(col("delta")).over(run))
        .withColumn("peak", max(col("cum")).over(run))
        .withColumn("dd", col("peak") - col("cum"))
        .withColumn("final_cents", sum(col("delta")).over(full))
        .withColumn("n_events", count(lit(1)).over(full))
        .withColumn("rn", row_number().over(Window.partitionBy("user_id")
          .orderBy(col("dd").desc, col("ts"), col("event_id"))))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("n_events"),
          round(col("final_cents").cast("double") / 100.0, 2).as("final_pnl"),
          round(col("dd").cast("double") / 100.0, 2).as("max_drawdown"),
          date_format(col("ts"), "yyyy-MM-dd").as("trough_day"))
        .orderBy("user_id")
    },
      """WITH ev AS (
           SELECT user_id, ts, event_id,
             (CASE WHEN event_id % 2 = 0 THEN 1 ELSE -1 END)
               * round(value * 100)::BIGINT AS delta
           FROM events),
         r AS (
           SELECT *,
             sum(delta) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM ev),
         p AS (
           SELECT *,
             max(cum) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak,
             sum(delta) OVER (PARTITION BY user_id) AS final_cents,
             count(*) OVER (PARTITION BY user_id) AS n_events
           FROM r),
         dd AS (
           SELECT *, (peak - cum) AS dd,
             row_number() OVER (PARTITION BY user_id
               ORDER BY (peak - cum) DESC, ts, event_id) AS rn
           FROM p)
         SELECT user_id, n_events::BIGINT AS n_events,
           round(final_cents::DOUBLE / 100.0, 2) AS final_pnl,
           round(dd::DOUBLE / 100.0, 2) AS max_drawdown,
           strftime(ts, '%Y-%m-%d') AS trough_day
         FROM dd WHERE rn = 1 ORDER BY user_id"""),

    // CHI-SQUARE TEST OF INDEPENDENCE (event-type × day-of-week — the
    // categorical drift test beside q164's z-test and q168's PSI): the
    // full contingency grid is materialized (margin × margin cross of
    // two metadata-sized frames, zero-filled), expected counts come
    // from exact integer margins, and the global statistic is a
    // sorted-order fold so the double sum is engine-deterministic.
    QueryDef("q180_chisq", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val ev = events(s, dir).select(col("event_type").as("ty"),
        expr("(datediff(to_date(ts), date'1970-01-05') % 7 + 7) % 7")
          .as("dow"))
      val obs = ev.groupBy("ty", "dow").agg(count(lit(1)).as("o"))
      val rowt = obs.groupBy("ty").agg(sum(col("o")).as("rt"))
      val colt = Caches.small(obs.groupBy("dow").agg(sum(col("o")).as("ct")))
      val tot = obs.agg(sum(col("o")).as("n"), count(lit(1)).as("ncells"),
        countDistinct(col("ty")).as("nr"), countDistinct(col("dow")).as("nc"))
      val grid = rowt.crossJoin(broadcast(colt))
        .join(obs, Seq("ty", "dow"), "left")
        .withColumn("o", coalesce(col("o"), lit(0L)))
        .crossJoin(broadcast(tot))
        .withColumn("e", d(col("rt")) * d(col("ct")) / d(col("n")))
        .withColumn("contrib",
          (d(col("o")) - col("e")) * (d(col("o")) - col("e")) / col("e"))
      val chi2 = grid.agg(
        ssum(collect_list(col("contrib"))).as("stat"),
        max((col("nr") - 1) * (col("nc") - 1)).as("dof"))
      grid.crossJoin(broadcast(chi2))
        .select(col("ty"), col("dow"), col("o"),
          round(col("e"), 4).as("expected"),
          round(col("contrib"), 6).as("contrib"),
          round(col("stat"), 6).as("chi2_total"), col("dof"))
        .orderBy("ty", "dow")
    },
      """WITH ev AS (
           SELECT event_type AS ty,
             ((CAST(ts AS DATE) - DATE '1970-01-05') % 7 + 7) % 7 AS dow
           FROM events),
         obs AS (
           SELECT ty, dow, count(*)::BIGINT AS o FROM ev GROUP BY 1, 2),
         rowt AS (SELECT ty, sum(o)::BIGINT AS rt FROM obs GROUP BY 1),
         colt AS (SELECT dow, sum(o)::BIGINT AS ct FROM obs GROUP BY 1),
         tot AS (
           SELECT sum(o)::BIGINT AS n,
             count(DISTINCT ty)::BIGINT AS nr,
             count(DISTINCT dow)::BIGINT AS nc
           FROM obs),
         grid AS (
           SELECT rowt.ty, colt.dow, coalesce(obs.o, 0)::BIGINT AS o,
             rt, ct, n, nr, nc,
             rt::DOUBLE * ct::DOUBLE / n::DOUBLE AS e
           FROM rowt CROSS JOIN colt
           LEFT JOIN obs ON obs.ty = rowt.ty AND obs.dow = colt.dow
           CROSS JOIN tot),
         c AS (
           SELECT *, (o::DOUBLE - e) * (o::DOUBLE - e) / e AS contrib
           FROM grid),
         s AS (
           SELECT list_sum(list_sort(list(contrib))) AS stat,
             max((nr - 1) * (nc - 1)) AS dof
           FROM c)
         SELECT ty, dow, o, round(e, 4) AS expected,
           round(contrib, 6) AS contrib,
           round(stat, 6) AS chi2_total, dof::BIGINT AS dof
         FROM c CROSS JOIN s ORDER BY ty, dow"""),

    // LINEAR-INTERPOLATION GAP FILL (time-series imputation): a
    // simulated sensor dropout (every 5th day nulled) is repaired with
    // LOCF / NOCB carries and distance-weighted linear interpolation —
    // four IGNORE-NULLS window carries over ONE per-type day-grain
    // sort; edge gaps fall back to the nearest observation. The
    // interpolated value is exact rational arithmetic over integer
    // cents and day indices (divisions happen once, at display).
    QueryDef("q192_interpolate", (s, dir) => {
      val daily = events(s, dir)
        .groupBy(col("event_type").as("ty"), to_date(col("ts")).as("day"))
        .agg(sum(round(col("value") * 100, 0).cast("long")).as("c0"))
        .withColumn("t",
          expr("datediff(day, date'1970-01-05')").cast("long"))
        .withColumn("v", when(col("t") % 5 === 0,
          lit(null).cast("long")).otherwise(col("c0")))
      val ord = Window.partitionBy("ty").orderBy("t")
      val back = ord.rowsBetween(Window.unboundedPreceding, 0)
      val fwd = ord.rowsBetween(0, Window.unboundedFollowing)
      daily
        .withColumn("pv", last(col("v"), ignoreNulls = true).over(back))
        .withColumn("pt", last(when(col("v").isNotNull, col("t")),
          ignoreNulls = true).over(back))
        .withColumn("nv", first(col("v"), ignoreNulls = true).over(fwd))
        .withColumn("nt", first(when(col("v").isNotNull, col("t")),
          ignoreNulls = true).over(fwd))
        .withColumn("fill",
          when(col("v").isNotNull, col("v").cast("double"))
            .when(col("pv").isNull, col("nv").cast("double"))
            .when(col("nv").isNull, col("pv").cast("double"))
            .otherwise(col("pv") + (col("nv") - col("pv")).cast("double")
              * (col("t") - col("pt")) / (col("nt") - col("pt"))))
        .select(col("ty"), date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("v").isNull.as("was_gap"),
          round(col("fill") / 100.0, 4).as("value"))
        .orderBy("ty", "day")
    },
      """WITH daily AS (
           SELECT event_type AS ty, CAST(ts AS DATE) AS day,
             sum(round(value * 100)::BIGINT)::BIGINT AS c0,
             (CAST(ts AS DATE) - DATE '1970-01-05')::BIGINT AS t
           FROM events GROUP BY 1, 2, 4),
         sp AS (
           SELECT *, CASE WHEN t % 5 = 0 THEN NULL ELSE c0 END AS v
           FROM daily),
         f AS (
           SELECT *,
             last_value(v IGNORE NULLS) OVER (PARTITION BY ty ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             last_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS)
               OVER (PARTITION BY ty ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
             first_value(v IGNORE NULLS) OVER (PARTITION BY ty ORDER BY t
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             first_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS)
               OVER (PARTITION BY ty ORDER BY t
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
           FROM sp),
         o AS (
           SELECT ty, day, (v IS NULL) AS was_gap,
             CASE WHEN v IS NOT NULL THEN v::DOUBLE
               WHEN pv IS NULL THEN nv::DOUBLE
               WHEN nv IS NULL THEN pv::DOUBLE
               ELSE pv + (nv - pv)::DOUBLE * (t - pt) / (nt - pt)
             END AS fill
           FROM f)
         SELECT ty, day::VARCHAR AS day, was_gap,
           round(fill / 100.0, 4) AS value
         FROM o ORDER BY ty, day"""),

    // KOLMOGOROV–SMIRNOV TWO-SAMPLE TEST (exact, between time halves —
    // the distribution-shift test beside PSI/chi²): per type, value-
    // level counts for each half, cumulative counts over ONE sorted
    // window, and the KS statistic found by integer cross-
    // multiplication max |cumA·nB − cumB·nA| — float enters once, in
    // the final display division. Cost: one (type,value) agg + one
    // per-type sort over distinct values only.
    QueryDef("q195_ks_test", (s, dir) => {
      val ev = events(s, dir).select(col("event_type").as("ty"),
        round(col("value") * 100, 0).cast("long").as("cents"),
        expr("unix_micros(ts)").as("us"))
      val span = ev.agg(expr("(min(us) + max(us)) div 2").as("mid"))
      val g = ev.crossJoin(broadcast(span))
        .groupBy("ty", "cents")
        .agg(sum(when(col("us") < col("mid"), 1L).otherwise(0L)).as("ca"),
          sum(when(col("us") >= col("mid"), 1L).otherwise(0L)).as("cb"))
      val ord = Window.partitionBy("ty").orderBy("cents")
      val full = Window.partitionBy("ty")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      g.withColumn("cuma", sum(col("ca")).over(
          ord.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("cumb", sum(col("cb")).over(
          ord.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("na", sum(col("ca")).over(full))
        .withColumn("nb", sum(col("cb")).over(full))
        .withColumn("diff", abs(col("cuma") * col("nb") -
          col("cumb") * col("na")))
        .withColumn("rn", row_number().over(Window.partitionBy("ty")
          .orderBy(col("diff").desc, col("cents"))))
        .filter(col("rn") === 1)
        .select(col("ty"), col("na"), col("nb"),
          round(col("diff").cast("double") /
            (col("na") * col("nb")).cast("double"), 6).as("ks_stat"),
          round(col("cents").cast("double") / 100.0, 2).as("at_value"))
        .orderBy("ty")
    },
      """WITH ev AS (
           SELECT event_type AS ty, round(value * 100)::BIGINT AS cents,
             epoch_us(ts) AS us
           FROM events),
         span AS (SELECT (min(us) + max(us)) // 2 AS mid FROM ev),
         g AS (
           SELECT ty, cents,
             sum(CASE WHEN us < mid THEN 1 ELSE 0 END)::BIGINT AS ca,
             sum(CASE WHEN us >= mid THEN 1 ELSE 0 END)::BIGINT AS cb
           FROM ev CROSS JOIN span GROUP BY 1, 2),
         c AS (
           SELECT *,
             sum(ca) OVER (PARTITION BY ty ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cuma,
             sum(cb) OVER (PARTITION BY ty ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cumb,
             sum(ca) OVER (PARTITION BY ty) AS na,
             sum(cb) OVER (PARTITION BY ty) AS nb
           FROM g),
         d AS (
           SELECT *, abs(cuma * nb - cumb * na) AS diff,
             row_number() OVER (PARTITION BY ty
               ORDER BY abs(cuma * nb - cumb * na) DESC, cents) AS rn
           FROM c)
         SELECT ty, na::BIGINT AS na, nb::BIGINT AS nb,
           round(diff::DOUBLE / (na * nb)::DOUBLE, 6) AS ks_stat,
           round(cents::DOUBLE / 100.0, 2) AS at_value
         FROM d WHERE rn = 1 ORDER BY ty"""),

    // NUCLEUS (top-p) SELECTION MASK (the LLM-serving sampling
    // primitive, Holtzman ICLR'20, as a set-at-a-time query): per-user
    // event-type frequencies → temperature-0.5 softmax → smallest
    // prefix of the (prob desc, type asc) order covering p≥0.9. The
    // candidate set is the 5-type vocabulary, so every window frame is
    // model-sized; exp parity is the q105 contract. The keep/cut
    // decision replays identically in the oracle.
    QueryDef("q201_nucleus_topp", (s, dir) => {
      val cnt = events(s, dir).groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("c"))
        .withColumn("n", sum(col("c")).over(Window.partitionBy("user_id")
          .rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
        .withColumn("e",
          exp(col("c").cast("double") / col("n") / lit(0.5)))
      val sm = cnt.withColumn("z", ssum(collect_list(col("e")).over(
          Window.partitionBy("user_id").rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing))))
        .withColumn("p", col("e") / col("z"))
      val ord = Window.partitionBy("user_id")
        .orderBy(col("p").desc, col("event_type"))
      sm.withColumn("rk", row_number().over(ord))
        .withColumn("cum", sum(col("p")).over(
          ord.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("prevcum", coalesce(sum(col("p")).over(
          ord.rowsBetween(Window.unboundedPreceding, -1)), lit(0.0)))
        .filter(col("prevcum") < 0.9)
        .groupBy("user_id")
        .agg(count(lit(1)).as("k_nucleus"),
          max(when(col("rk") === 1, col("event_type"))).as("top_type"),
          round(max(col("cum")), 6).as("nucleus_mass"))
        .orderBy("user_id")
    },
      """WITH cnt AS (
           SELECT user_id, event_type, count(*)::BIGINT AS c
           FROM events GROUP BY 1, 2),
         n AS (
           SELECT *, sum(c) OVER (PARTITION BY user_id) AS n
           FROM cnt),
         e AS (
           SELECT *, exp(c::DOUBLE / n / 0.5) AS e FROM n),
         z AS (
           SELECT *, list_sum(list_sort(
             list(e) OVER (PARTITION BY user_id))) AS z
           FROM e),
         p AS (SELECT *, e / z AS p FROM z),
         r AS (
           SELECT *,
             row_number() OVER (PARTITION BY user_id
               ORDER BY p DESC, event_type) AS rk,
             sum(p) OVER (PARTITION BY user_id
               ORDER BY p DESC, event_type
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             coalesce(sum(p) OVER (PARTITION BY user_id
               ORDER BY p DESC, event_type
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0)
               AS prevcum
           FROM p)
         SELECT user_id, count(*)::BIGINT AS k_nucleus,
           max(CASE WHEN rk = 1 THEN event_type END) AS top_type,
           round(max(cum), 6) AS nucleus_mass
         FROM r WHERE prevcum < 0.9 GROUP BY 1 ORDER BY user_id"""),

    // ROLLING EXACT MEDIAN (centered 31-day window — the robust
    // smoother a rolling mean can't be): the stream collapses to the
    // calendar-bounded day grain FIRST, then each frame's values are
    // collected IN FRAME ORDER, sorted, and indexed — exact integer
    // cents, no sketch, frame size capped at 31. One window shuffle
    // over the day-grain series.
    QueryDef("q206_rolling_median", (s, dir) => {
      val daily = events(s, dir)
        .groupBy(col("event_type").as("ty"), to_date(col("ts")).as("day"))
        .agg(sum(round(col("value") * 100, 0).cast("long")).as("cents"))
      val frame = Window.partitionBy("ty").orderBy("day")
        .rowsBetween(-15, 15)
      daily.withColumn("arr", array_sort(collect_list(col("cents"))
          .over(frame)))
        .select(col("ty"), date_format(col("day"), "yyyy-MM-dd").as("day"),
          size(col("arr")).cast("long").as("n_window"),
          round(element_at(col("arr"),
            ((size(col("arr")) + lit(1)) / lit(2)).cast("int"))
            .cast("double") / 100.0, 2).as("rolling_median"))
        .orderBy("ty", "day")
    },
      """WITH daily AS (
           SELECT event_type AS ty, CAST(ts AS DATE) AS day,
             sum(round(value * 100)::BIGINT)::BIGINT AS cents
           FROM events GROUP BY 1, 2),
         f AS (
           SELECT ty, day,
             list_sort(list(cents) OVER (PARTITION BY ty ORDER BY day
               ROWS BETWEEN 15 PRECEDING AND 15 FOLLOWING)) AS arr
           FROM daily)
         SELECT ty, day::VARCHAR AS day,
           len(arr)::BIGINT AS n_window,
           round(arr[(len(arr) + 1) // 2]::DOUBLE / 100.0, 2)
             AS rolling_median
         FROM f ORDER BY ty, day"""),

    // TIME-TO-CONVERT PERCENTILES (signup → first purchase — the
    // product-funnel latency metric): per-user firsts from one
    // min-aggregation, exact integer-microsecond gaps, and p50/p90
    // picked by the q191 cumulative-count cross-multiplication — no
    // percentile sketch, no full collect. Two aggs + one sort over the
    // converted-user table.
    QueryDef("q208_time_to_convert", (s, dir) => {
      val ev = events(s, dir).select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"))
      val su = ev.groupBy("user_id")
        .agg(min(when(col("event_type") === "signup", col("us")))
          .as("su"))
        .filter(col("su").isNotNull)
      // first purchase AT/after signup via filter-then-min (no per-user
      // buffer — the purchase list never materializes)
      val pu = ev.filter(col("event_type") === "purchase")
        .join(su, Seq("user_id"))
        .filter(col("us") >= col("su"))
        .groupBy("user_id").agg(min(col("us")).as("pu"))
      val conv = su.join(pu, Seq("user_id"))
        .withColumn("gap", col("pu") - col("su"))
      val n = conv.agg(count(lit(1)).as("n"))
      // two-phase global rank — the converted-user frame grows with the
      // user dimension, so no single-partition sort
      Dedup.numberRows(conv, struct(col("gap"), col("user_id")), "rk")
        .crossJoin(broadcast(n))
        .groupBy()
        .agg(max(col("n")).as("n_converted"),
          round(min(when(col("rk") * 2 >= col("n"), col("gap")))
            .cast("double") / 86400e6, 4).as("p50_days"),
          round(min(when(col("rk") * 10 >= col("n") * 9, col("gap")))
            .cast("double") / 86400e6, 4).as("p90_days"))
    },
      """WITH ev AS (
           SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
         su AS (
           SELECT user_id,
             min(CASE WHEN event_type = 'signup' THEN us END) AS su
           FROM ev GROUP BY 1 HAVING su IS NOT NULL),
         pu AS (
           SELECT ev.user_id, min(us) AS pu
           FROM ev JOIN su USING (user_id)
           WHERE event_type = 'purchase' AND us >= su
           GROUP BY 1),
         conv AS (
           SELECT su.user_id, pu - su AS gap
           FROM su JOIN pu USING (user_id)),
         r AS (
           SELECT gap, row_number() OVER (ORDER BY gap, user_id) AS rk,
             count(*) OVER () AS n
           FROM conv)
         SELECT max(n)::BIGINT AS n_converted,
           round(min(CASE WHEN rk * 2 >= n THEN gap END)::DOUBLE
             / 86400000000.0, 4) AS p50_days,
           round(min(CASE WHEN rk * 10 >= n * 9 THEN gap END)::DOUBLE
             / 86400000000.0, 4) AS p90_days
         FROM r"""),

    // SEASONAL-NAIVE BACKTEST (forecast f(t)=y(t−7), scored with
    // MAPE/sMAPE/bias over the final 28 days — the baseline every
    // forecasting pipeline must beat): the forecast is an equi-join of
    // the day-grain series against itself shifted 7 calendar days —
    // no window over the fact table, exact integer actuals, error
    // folds sorted. One groupBy + one self-join on the tiny series.
    QueryDef("q213_backtest_mape", (s, dir) => {
      val daily = events(s, dir)
        .groupBy(col("event_type").as("ty"), to_date(col("ts")).as("day"))
        .agg(sum(round(col("value") * 100, 0).cast("long")).as("cents"))
      val horizon = daily.agg(date_sub(max(col("day")), 27).as("h0"))
      val f = daily.select(col("ty"), date_add(col("day"), 7).as("day"),
        col("cents").as("fc"))
      daily.join(f, Seq("ty", "day"))
        .crossJoin(broadcast(horizon))
        .filter(col("day") >= col("h0"))
        .groupBy("ty")
        .agg(count(lit(1)).as("n_eval"),
          round(ssum(collect_list(
            abs(col("cents") - col("fc")).cast("double") / col("cents")))
            / count(lit(1)), 6).as("mape"),
          round(ssum(collect_list(
            lit(2.0) * abs(col("cents") - col("fc")).cast("double") /
              (col("cents") + col("fc")))) / count(lit(1)), 6)
            .as("smape"),
          sum(col("fc") - col("cents")).as("bias_cents"))
        .orderBy("ty")
    },
      """WITH daily AS (
           SELECT event_type AS ty, CAST(ts AS DATE) AS day,
             sum(round(value * 100)::BIGINT)::BIGINT AS cents
           FROM events GROUP BY 1, 2),
         hz AS (SELECT max(day) - 27 AS h0 FROM daily),
         f AS (
           SELECT ty, day + 7 AS day, cents AS fc FROM daily),
         j AS (
           SELECT d.ty, d.day, d.cents, f.fc
           FROM daily d JOIN f ON d.ty = f.ty AND d.day = f.day
           CROSS JOIN hz WHERE d.day >= h0)
         SELECT ty, count(*)::BIGINT AS n_eval,
           round(list_sum(list_sort(list(
             abs(cents - fc)::DOUBLE / cents))) / count(*), 6) AS mape,
           round(list_sum(list_sort(list(
             2.0 * abs(cents - fc)::DOUBLE / (cents + fc))))
             / count(*), 6) AS smape,
           sum(fc - cents)::BIGINT AS bias_cents
         FROM j GROUP BY 1 ORDER BY 1"""),

    // LEAD-LAG CROSS-CORRELATION (which series moves first — the
    // click→purchase latency discovery): zero-filled daily click and
    // purchase counts on a shared spine, CCF at lags −7..+7 via
    // calendar-shifted equi-joins, Pearson terms from exact integer
    // moments. The whole computation runs on the metadata-sized day
    // grain; the best lag is a deterministic rank pick.
    QueryDef("q215_lead_lag", (s, dir) => {
      val ev = events(s, dir)
      val byDay = (tpe: String, name: String) => ev
        .filter(col("event_type") === tpe)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as(name))
      val span = ev.agg(to_date(min(col("ts"))).as("d0"),
        to_date(max(col("ts"))).as("d1"))
      val spine = span.select(explode(expr(
        "sequence(d0, d1, interval 1 day)")).as("day"))
      val base = spine
        .join(byDay("click", "x"), Seq("day"), "left")
        .join(byDay("purchase", "y"), Seq("day"), "left")
        .select(col("day"), coalesce(col("x"), lit(0L)).as("x"),
          coalesce(col("y"), lit(0L)).as("y"))
      val lags = base.select(col("day"), col("x"),
        explode(sequence(lit(-7), lit(7))).as("lg"))
      val joined = lags.join(base.select(
          col("day").as("dy"), col("y")),
          col("dy") === expr("date_add(day, lg)"))
        .select(col("lg").cast("long").as("lg"),
          col("x").cast("decimal(19,0)").as("x"),
          col("y").cast("decimal(19,0)").as("y"))
      val m = joined.groupBy("lg")
        .agg(count(lit(1)).cast("decimal(19,0)").as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .select(col("lg"), col("n").cast("long").as("n_days"),
          (round((col("n") * col("sxy") - col("sx") * col("sy"))
            .cast("double") /
            sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
              .cast("double") *
              (col("n") * col("syy") - col("sy") * col("sy"))
                .cast("double")), 4) + 0.0).as("ccf"))
      m.withColumn("best", row_number().over(
          Window.orderBy(col("ccf").desc, col("lg"))) === 1)
        .orderBy("lg")
    },
      """WITH ev AS (
           SELECT event_type, CAST(ts AS DATE) AS day FROM events),
         sp AS (
           SELECT unnest(generate_series(min(day), max(day),
             INTERVAL 1 DAY))::DATE AS day
           FROM ev),
         cx AS (
           SELECT day, count(*)::BIGINT AS x FROM ev
           WHERE event_type = 'click' GROUP BY 1),
         py AS (
           SELECT day, count(*)::BIGINT AS y FROM ev
           WHERE event_type = 'purchase' GROUP BY 1),
         base AS (
           SELECT sp.day, coalesce(cx.x, 0) AS x, coalesce(py.y, 0) AS y
           FROM sp LEFT JOIN cx USING (day) LEFT JOIN py USING (day)),
         lagged AS (
           SELECT l.range AS lg, a.x, b.y
           FROM base a
           CROSS JOIN range(-7, 8) l
           JOIN base b ON b.day = a.day + to_days(l.range::INT)),
         m AS (
           SELECT lg, count(*)::BIGINT AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
           FROM lagged GROUP BY 1),
         cc AS (
           SELECT lg::BIGINT AS lg, n AS n_days,
             round((n * sxy - sx * sy)::DOUBLE /
               sqrt((n * sxx - sx * sx)::DOUBLE *
                 (n * syy - sy * sy)::DOUBLE), 4) + 0.0 AS ccf
           FROM m)
         SELECT lg, n_days, ccf,
           (row_number() OVER (ORDER BY ccf DESC, lg) = 1) AS best
         FROM cc ORDER BY lg"""),

    // 1-D EARTH-MOVER DISTANCE, exact (the integral twin of q195's
    // KS sup-statistic — total distribution shift, not just the worst
    // point): Σ |cumA·nB − cumB·nA| · Δvalue over one sorted pass of
    // distinct values, all integer until the final normalization.
    QueryDef("q217_emd", (s, dir) => {
      val ev = events(s, dir).select(col("event_type").as("ty"),
        round(col("value") * 100, 0).cast("long").as("cents"),
        expr("unix_micros(ts)").as("us"))
      val span = ev.agg(expr("(min(us) + max(us)) div 2").as("mid"))
      val g = ev.crossJoin(broadcast(span))
        .groupBy("ty", "cents")
        .agg(sum(when(col("us") < col("mid"), 1L).otherwise(0L)).as("ca"),
          sum(when(col("us") >= col("mid"), 1L).otherwise(0L)).as("cb"))
      val ord = Window.partitionBy("ty").orderBy("cents")
      val full = Window.partitionBy("ty")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      g.withColumn("cuma", sum(col("ca")).over(
          ord.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("cumb", sum(col("cb")).over(
          ord.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("na", sum(col("ca")).over(full))
        .withColumn("nb", sum(col("cb")).over(full))
        .withColumn("gap", lead(col("cents"), 1).over(ord) - col("cents"))
        .filter(col("gap").isNotNull)
        .withColumn("term",
          abs(col("cuma") * col("nb") - col("cumb") * col("na")) *
            col("gap"))
        .groupBy("ty")
        .agg(max(col("na")).as("na"), max(col("nb")).as("nb"),
          sum(col("term").cast("decimal(38,0)")).as("w"))
        .select(col("ty"), col("na"), col("nb"),
          round(col("w").cast("double") /
            (col("na") * col("nb")).cast("double") / 100.0, 6)
            .as("emd"))
        .orderBy("ty")
    },
      """WITH ev AS (
           SELECT event_type AS ty, round(value * 100)::BIGINT AS cents,
             epoch_us(ts) AS us
           FROM events),
         span AS (SELECT (min(us) + max(us)) // 2 AS mid FROM ev),
         g AS (
           SELECT ty, cents,
             sum(CASE WHEN us < mid THEN 1 ELSE 0 END)::BIGINT AS ca,
             sum(CASE WHEN us >= mid THEN 1 ELSE 0 END)::BIGINT AS cb
           FROM ev CROSS JOIN span GROUP BY 1, 2),
         c AS (
           SELECT *,
             sum(ca) OVER (PARTITION BY ty ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cuma,
             sum(cb) OVER (PARTITION BY ty ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cumb,
             sum(ca) OVER (PARTITION BY ty) AS na,
             sum(cb) OVER (PARTITION BY ty) AS nb,
             lead(cents) OVER (PARTITION BY ty ORDER BY cents) - cents
               AS gap
           FROM g)
         SELECT ty, max(na)::BIGINT AS na, max(nb)::BIGINT AS nb,
           round(sum(abs(cuma * nb - cumb * na) * gap)::DOUBLE
             / (max(na) * max(nb))::DOUBLE / 100.0, 6) AS emd
         FROM c WHERE gap IS NOT NULL GROUP BY 1 ORDER BY 1"""),

    // SPLIT-CONFORMAL PREDICTION INTERVALS (distribution-free coverage
    // — Vovk/Shafer, the calibration layer any point forecaster can
    // wear): calibration half fits per-type means (exact cents) and
    // takes q̂ = ⌈(n+1)·0.9⌉-th smallest |residual| by ONE rank
    // window; the gate then PROVES empirical coverage ≈ 90% on the
    // disjoint test half. Exact integer residual ranks — no quantile
    // sketch anywhere.
    QueryDef("q218_conformal", (s, dir) => {
      val ev = events(s, dir).select(col("event_type").as("ty"),
        round(col("value") * 100, 0).cast("long").as("cents"),
        expr("unix_micros(ts)").as("us"))
      val span = ev.agg(expr("(min(us) + max(us)) div 2").as("mid"))
      val halved = ev.crossJoin(broadcast(span))
        .withColumn("cal", col("us") < col("mid"))
      val fit = halved.filter(col("cal")).groupBy("ty")
        .agg(sum(col("cents")).as("sc"), count(lit(1)).as("n"))
        .select(col("ty"), expr("sc div n").as("pred"), col("n"))
      val resid = halved.filter(col("cal"))
        .join(broadcast(fit), Seq("ty"))
        .withColumn("r", abs(col("cents") - col("pred")))
        .withColumn("rk", row_number().over(Window.partitionBy("ty")
          .orderBy(col("r"), col("cents"), col("us"))))
        // q̂ = the k-th smallest with k = ⌈(n+1)·0.9⌉ (integer ceil)
        .filter(col("rk") === expr("(9 * (n + 1) + 9) div 10"))
        .select(col("ty"), col("r").as("qhat"))
      halved.filter(!col("cal"))
        .join(broadcast(fit.select("ty", "pred")), Seq("ty"))
        .join(broadcast(resid), Seq("ty"))
        .groupBy(col("ty"))
        .agg(count(lit(1)).as("n_test"), max(col("qhat")).as("qhat"),
          sum(when(abs(col("cents") - col("pred")) <= col("qhat"), 1L)
            .otherwise(0L)).as("n_covered"))
        .withColumn("coverage", round(col("n_covered").cast("double") /
          col("n_test"), 4))
        .withColumn("ok", col("coverage") >= 0.85)
        .orderBy("ty")
    },
      """WITH ev AS (
           SELECT event_type AS ty, round(value * 100)::BIGINT AS cents,
             epoch_us(ts) AS us
           FROM events),
         span AS (SELECT (min(us) + max(us)) // 2 AS mid FROM ev),
         h AS (
           SELECT ev.*, (us < mid) AS cal FROM ev CROSS JOIN span),
         fit AS (
           SELECT ty, sum(cents) // count(*) AS pred,
             count(*)::BIGINT AS n
           FROM h WHERE cal GROUP BY 1),
         resid AS (
           SELECT ty, r AS qhat FROM (
             SELECT h.ty, abs(cents - pred) AS r,
               row_number() OVER (PARTITION BY h.ty
                 ORDER BY abs(cents - pred), cents, us) AS rk,
               n
             FROM h JOIN fit USING (ty) WHERE cal)
           WHERE rk = (9 * (n + 1) + 9) // 10)
         SELECT ty, count(*)::BIGINT AS n_test,
           max(qhat)::BIGINT AS qhat,
           sum(CASE WHEN abs(cents - pred) <= qhat THEN 1 ELSE 0 END)
             ::BIGINT AS n_covered,
           round(sum(CASE WHEN abs(cents - pred) <= qhat
             THEN 1 ELSE 0 END)::DOUBLE / count(*), 4) AS coverage,
           (round(sum(CASE WHEN abs(cents - pred) <= qhat
             THEN 1 ELSE 0 END)::DOUBLE / count(*), 4) >= 0.85) AS ok
         FROM h JOIN fit USING (ty) JOIN resid USING (ty)
         WHERE NOT cal GROUP BY 1 ORDER BY 1"""),

    // CAPTURE–RECAPTURE POPULATION ESTIMATE (Chapman's Lincoln–
    // Petersen — estimating corpus size from two overlapping hash
    // samples, the ecology trick that audits "how many distinct users
    // are there REALLY" without a full distinct): two deterministic
    // md5 subsamples, overlap counted exactly, N̂ = (n₁+1)(n₂+1)/(m+1)
    // − 1 gated against the true distinct count it estimates.
    QueryDef("q219_capture_recapture", (s, dir) => {
      val users = events(s, dir).select(col("user_id")).distinct()
        .withColumn("h1",
          pmod(TF.md5Hash48(concat(lit("s1:"), col("user_id"))), lit(5L)))
        .withColumn("h2",
          pmod(TF.md5Hash48(concat(lit("s2:"), col("user_id"))), lit(5L)))
      users.agg(count(lit(1)).as("n_true"),
          sum(when(col("h1") === 0, 1L).otherwise(0L)).as("n1"),
          sum(when(col("h2") === 0, 1L).otherwise(0L)).as("n2"),
          sum(when(col("h1") === 0 && col("h2") === 0, 1L).otherwise(0L))
            .as("m"))
        .select(col("n_true"), col("n1"), col("n2"), col("m"),
          round((col("n1") + 1).cast("double") * (col("n2") + 1) /
            (col("m") + 1) - 1.0, 2).as("n_hat"),
          ((abs((col("n1") + 1).cast("double") * (col("n2") + 1) /
            (col("m") + 1) - 1.0 - col("n_true"))) <=
            lit(0.5) * col("n_true") + 100.0).as("ok"))
    },
      """WITH u AS (
           SELECT DISTINCT user_id FROM events),
         m AS (
           SELECT count(*)::BIGINT AS n_true,
             sum(CASE WHEN ('0x' || substring(md5('0:s1:' || user_id),
               1, 12))::BIGINT % 5 = 0 THEN 1 ELSE 0 END)::BIGINT
               AS n1,
             sum(CASE WHEN ('0x' || substring(md5('0:s2:' || user_id),
               1, 12))::BIGINT % 5 = 0 THEN 1 ELSE 0 END)::BIGINT
               AS n2,
             sum(CASE WHEN ('0x' || substring(md5('0:s1:' || user_id),
               1, 12))::BIGINT % 5 = 0
               AND ('0x' || substring(md5('0:s2:' || user_id),
               1, 12))::BIGINT % 5 = 0 THEN 1 ELSE 0 END)::BIGINT AS m
           FROM u)
         SELECT n_true, n1, n2, m,
           round((n1 + 1)::DOUBLE * (n2 + 1) / (m + 1) - 1.0, 2)
             AS n_hat,
           (abs((n1 + 1)::DOUBLE * (n2 + 1) / (m + 1) - 1.0 - n_true)
             <= 0.5 * n_true + 100.0) AS ok
         FROM m"""),

    // MARKOV CONDITIONAL ENTROPY per user (how predictable is each
    // user's event sequence — the behavioral-segmentation feature):
    // bigram transition counts from ONE lead window over the per-user
    // time order, H(next|cur) = −Σ p(cur,next)·ln p(next|cur) from
    // exact integer counts; the per-user fold is bounded by the 25
    // possible type-pairs, never by activity volume.
    QueryDef("q222_markov_entropy", (s, dir) => {
      val ev = events(s, dir).select(col("user_id"), col("event_type"),
        col("ts"), col("event_id"))
      val trans = ev.withColumn("nxt", lead(col("event_type"), 1).over(
          Window.partitionBy("user_id")
            .orderBy(col("ts"), col("event_id"))))
        .filter(col("nxt").isNotNull)
        .groupBy(col("user_id"), col("event_type").as("cur"), col("nxt"))
        .agg(count(lit(1)).as("nij"))
      val curTot = trans.groupBy("user_id", "cur")
        .agg(sum(col("nij")).as("ni"))
      val userTot = trans.groupBy("user_id")
        .agg(sum(col("nij")).as("n"))
      trans.join(curTot, Seq("user_id", "cur"))
        .join(userTot, Seq("user_id"))
        .withColumn("term",
          -(col("nij").cast("double") / col("n")) *
            log(col("nij").cast("double") / col("ni")))
        .groupBy("user_id")
        .agg(max(col("n")).as("n_transitions"),
          count(lit(1)).as("n_distinct_pairs"),
          round(ssum(collect_list(col("term"))), 6).as("cond_entropy"))
        .orderBy("user_id")
    },
      """WITH ev AS (
           SELECT user_id, event_type, ts, event_id,
             lead(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS nxt
           FROM events),
         tr AS (
           SELECT user_id, event_type AS cur, nxt,
             count(*)::BIGINT AS nij
           FROM ev WHERE nxt IS NOT NULL GROUP BY 1, 2, 3),
         ct AS (
           SELECT user_id, cur, sum(nij)::BIGINT AS ni
           FROM tr GROUP BY 1, 2),
         ut AS (
           SELECT user_id, sum(nij)::BIGINT AS n FROM tr GROUP BY 1),
         terms AS (
           SELECT tr.user_id, ut.n,
             -(nij::DOUBLE / n) * ln(nij::DOUBLE / ni) AS term
           FROM tr JOIN ct USING (user_id, cur)
           JOIN ut USING (user_id))
         SELECT user_id, max(n)::BIGINT AS n_transitions,
           count(*)::BIGINT AS n_distinct_pairs,
           round(list_sum(list_sort(list(term))), 6) AS cond_entropy
         FROM terms GROUP BY 1 ORDER BY user_id"""),

    // DIRECTLY STANDARDIZED RATE (the "adjust for mix shift before
    // comparing" epidemiology/ops primitive): period-A per-type
    // purchase rates applied to period-B's activity mix give the
    // EXPECTED purchases; SMR = actual/expected separates real change
    // from composition change. Exact integer strata counts; one
    // division per stratum at the end, folded sorted.
    QueryDef("q223_standardized_rate", (s, dir) => {
      val ev = events(s, dir).select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"))
      val span = ev.agg(expr("(min(us) + max(us)) div 2").as("mid"))
      // stratum = user's activity band (by event count, log2 bins)
      val strat = ev.groupBy("user_id").agg(count(lit(1)).as("na"))
        .select(col("user_id"),
          length(bin(col("na"))).cast("long").as("stratum"))
      val h = ev.crossJoin(broadcast(span))
        .join(strat, Seq("user_id"))
        .withColumn("is_a", col("us") < col("mid"))
      val rates = h.filter(col("is_a")).groupBy("stratum")
        .agg(count(lit(1)).as("na"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("pa"))
      val mix = h.filter(!col("is_a")).groupBy("stratum")
        .agg(count(lit(1)).as("nb"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("pb"))
      rates.join(mix, Seq("stratum"))
        .withColumn("expected",
          col("nb").cast("double") * col("pa") / col("na"))
        .groupBy()
        .agg(sum(col("pb")).as("actual"),
          round(ssum(collect_list(col("expected"))), 4).as("expected"),
          round(sum(col("pb")).cast("double") /
            ssum(collect_list(col("expected"))), 6).as("smr"),
          count(lit(1)).as("n_strata"))
    },
      """WITH ev AS (
           SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
         span AS (SELECT (min(us) + max(us)) // 2 AS mid FROM ev),
         strat AS (
           SELECT user_id, length(bin(count(*)))::BIGINT AS stratum
           FROM ev GROUP BY 1),
         h AS (
           SELECT ev.*, stratum, (us < mid) AS is_a
           FROM ev CROSS JOIN span JOIN strat USING (user_id)),
         rates AS (
           SELECT stratum, count(*)::BIGINT AS na,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               ::BIGINT AS pa
           FROM h WHERE is_a GROUP BY 1),
         mix AS (
           SELECT stratum, count(*)::BIGINT AS nb,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               ::BIGINT AS pb
           FROM h WHERE NOT is_a GROUP BY 1),
         j AS (
           SELECT r.stratum, pb,
             nb::DOUBLE * pa / na AS expected
           FROM rates r JOIN mix USING (stratum))
         SELECT sum(pb)::BIGINT AS actual,
           round(list_sum(list_sort(list(expected))), 4) AS expected,
           round(sum(pb)::DOUBLE
             / list_sum(list_sort(list(expected))), 6) AS smr,
           count(*)::BIGINT AS n_strata
         FROM j"""),

    // VALUE-AT-RISK + EXPECTED SHORTFALL (the tail-risk pair — CVaR is
    // coherent, VaR alone is not): per-type signed daily P&L (q178's
    // parity deltas at day grain), the k = ⌈0.05n⌉ worst days picked by
    // ONE rank window; VaR95 is the k-th worst exactly, CVaR95 the
    // exact integer mean of the tail. No percentile sketch; doubles
    // only at display.
    QueryDef("q227_var_cvar", (s, dir) => {
      val pnl = events(s, dir)
        .select(col("event_type").as("ty"), to_date(col("ts")).as("day"),
          (when(col("event_id") % 2 === 0, 1L).otherwise(-1L) *
            round(col("value") * 100, 0).cast("long")).as("delta"))
        .groupBy("ty", "day").agg(sum(col("delta")).as("d"))
      val full = Window.partitionBy("ty")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      pnl.withColumn("n", count(lit(1)).over(full))
        .withColumn("rk", row_number().over(Window.partitionBy("ty")
          .orderBy(col("d"), col("day"))))
        .withColumn("k", expr("(n + 19) div 20"))
        .filter(col("rk") <= col("k"))
        .groupBy("ty")
        .agg(max(col("n")).as("n_days"), max(col("k")).as("k_tail"),
          (-max(col("d"))).as("var95_cents"),
          // integer cents via floor(x+0.5): mean of k integers lands
          // exactly on .5 whenever k=2 — round()'s tie zone
          floor(-(sum(col("d")).cast("double") / count(lit(1))) + 0.5)
            .cast("long").as("cvar95_cents"),
          date_format(min(struct(col("d"), col("day")))("day"),
            "yyyy-MM-dd").as("worst_day"))
        .orderBy("ty")
    },
      """WITH pnl AS (
           SELECT event_type AS ty, CAST(ts AS DATE) AS day,
             sum((CASE WHEN event_id % 2 = 0 THEN 1 ELSE -1 END)
               * round(value * 100)::BIGINT)::BIGINT AS d
           FROM events GROUP BY 1, 2),
         r AS (
           SELECT *, count(*) OVER (PARTITION BY ty) AS n,
             row_number() OVER (PARTITION BY ty ORDER BY d, day) AS rk
           FROM pnl),
         k AS (SELECT *, (n + 19) // 20 AS k FROM r)
         SELECT ty, max(n)::BIGINT AS n_days, max(k)::BIGINT AS k_tail,
           (-max(d))::BIGINT AS var95_cents,
           floor(-(sum(d)::DOUBLE / count(*)) + 0.5)::BIGINT
             AS cvar95_cents,
           max(CASE WHEN rk = 1 THEN strftime(day, '%Y-%m-%d') END)
             AS worst_day
         FROM k WHERE rk <= k GROUP BY 1 ORDER BY 1"""),

    // MUTUAL INFORMATION between event type and value decile (the
    // information-theoretic dependence measure beside q180's chi² —
    // detects NONLINEAR association a correlation misses): global
    // decile bounds broadcast (q107 idiom), exact joint/margin counts,
    // MI = Σ p·ln(p·N²/(r·c)) folded sorted; normalized by the smaller
    // marginal entropy.
    QueryDef("q229_mutual_information", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val ev = events(s, dir).select(col("event_type").as("ty"),
        col("value").cast("double").as("v"))
      val bounds = ev.agg(expr(
        "percentile(v, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))")
        .as("bs"))
      val binned = ev.crossJoin(broadcast(bounds))
        .select(col("ty"),
          (lit(1) + size(filter(col("bs"), b => col("v") > b))).as("bin"))
      val joint = binned.groupBy("ty", "bin").agg(count(lit(1)).as("nij"))
      val rows = joint.groupBy("ty").agg(sum(col("nij")).as("ri"))
      val cols_ = joint.groupBy("bin").agg(sum(col("nij")).as("cj"))
      val tot = joint.agg(sum(col("nij")).as("nn"))
      val mi = joint.join(broadcast(rows), Seq("ty"))
        .join(broadcast(cols_), Seq("bin"))
        .crossJoin(broadcast(tot))
        .withColumn("term", d(col("nij")) / col("nn") *
          log(d(col("nij")) * col("nn") / (d(col("ri")) * col("cj"))))
        .agg(ssum(collect_list(col("term"))).as("mi"))
      val hr = rows.crossJoin(broadcast(tot))
        .withColumn("t", -(d(col("ri")) / col("nn")) *
          log(d(col("ri")) / col("nn")))
        .agg(ssum(collect_list(col("t"))).as("h_ty"))
      val hc = cols_.crossJoin(broadcast(tot))
        .withColumn("t", -(d(col("cj")) / col("nn")) *
          log(d(col("cj")) / col("nn")))
        .agg(ssum(collect_list(col("t"))).as("h_bin"))
      mi.crossJoin(broadcast(hr)).crossJoin(broadcast(hc))
        .select(round(col("mi"), 6).as("mi"),
          round(col("h_ty"), 6).as("h_ty"),
          round(col("h_bin"), 6).as("h_bin"),
          round(col("mi") / least(col("h_ty"), col("h_bin")), 6)
            .as("nmi"))
    },
      """WITH ev AS (
           SELECT event_type AS ty, CAST(value AS DOUBLE) AS v
           FROM events),
         bounds AS (
           SELECT quantile_cont(v,
             [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bs
           FROM ev),
         binned AS (
           SELECT ty, 1 + len(list_filter(bs, x -> v > x)) AS bin
           FROM ev CROSS JOIN bounds),
         joint AS (
           SELECT ty, bin, count(*)::BIGINT AS nij
           FROM binned GROUP BY 1, 2),
         rows_ AS (SELECT ty, sum(nij)::BIGINT AS ri
                   FROM joint GROUP BY 1),
         cols_ AS (SELECT bin, sum(nij)::BIGINT AS cj
                   FROM joint GROUP BY 1),
         tot AS (SELECT sum(nij)::BIGINT AS nn FROM joint),
         mi AS (
           SELECT list_sum(list_sort(list(
             nij::DOUBLE / nn *
               ln(nij::DOUBLE * nn / (ri::DOUBLE * cj))))) AS mi
           FROM joint JOIN rows_ USING (ty) JOIN cols_ USING (bin)
           CROSS JOIN tot),
         hr AS (
           SELECT list_sum(list_sort(list(
             -(ri::DOUBLE / nn) * ln(ri::DOUBLE / nn)))) AS h_ty
           FROM rows_ CROSS JOIN tot),
         hc AS (
           SELECT list_sum(list_sort(list(
             -(cj::DOUBLE / nn) * ln(cj::DOUBLE / nn)))) AS h_bin
           FROM cols_ CROSS JOIN tot)
         SELECT round(mi, 6) AS mi, round(h_ty, 6) AS h_ty,
           round(h_bin, 6) AS h_bin,
           round(mi / least(h_ty, h_bin), 6) AS nmi
         FROM mi CROSS JOIN hr CROSS JOIN hc"""),

    // SLA ERROR-BUDGET BURN-DOWN (SRE's 30-day rolling error rate vs a
    // 1% budget): day-grain error/total counts, a 30-row rolling frame
    // over the calendar-bounded series, burn = errors/(budget·total)
    // by integer cross-multiplication until the display division; the
    // breach flag never touches a float.
    QueryDef("q240_error_budget", (s, dir) => {
      val daily = events(s, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L))
            .as("e"))
      val w = Window.orderBy("day").rowsBetween(-29, 0)
      daily.withColumn("n30", sum(col("n")).over(w))
        .withColumn("e30", sum(col("e")).over(w))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("n30"), col("e30"),
          round(col("e30").cast("double") * 100.0 / col("n30"), 4)
            .as("err_pct"),
          (col("e30") * 100 > col("n30")).as("over_budget"))
        .orderBy("day")
    },
      """WITH daily AS (
           SELECT CAST(ts AS DATE) AS day, count(*)::BIGINT AS n,
             sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
               ::BIGINT AS e
           FROM events GROUP BY 1),
         r AS (
           SELECT day,
             sum(n) OVER (ORDER BY day
               ROWS BETWEEN 29 PRECEDING AND CURRENT ROW) AS n30,
             sum(e) OVER (ORDER BY day
               ROWS BETWEEN 29 PRECEDING AND CURRENT ROW) AS e30
           FROM daily)
         SELECT day::VARCHAR AS day, n30::BIGINT AS n30,
           e30::BIGINT AS e30,
           round(e30::DOUBLE * 100.0 / n30, 4) AS err_pct,
           (e30 * 100 > n30) AS over_budget
         FROM r ORDER BY day"""),

    // MARKOV NEXT-EVENT BACKTEST (does yesterday's transition matrix
    // predict tomorrow? — the sequence-model baseline eval): the
    // transition matrix fits on the time-first half (exact bigram
    // counts, argmax next-type per current-type with deterministic
    // tie), accuracy measures on the second half's transitions. The
    // model is a 25-cell broadcast.
    QueryDef("q249_markov_backtest", (s, dir) => {
      val ev = events(s, dir).select(col("user_id"), col("event_type"),
        col("ts"), col("event_id"),
        expr("unix_micros(ts)").as("us"))
      val span = ev.agg(expr("(min(us) + max(us)) div 2").as("mid"))
      val seq0 = ev.crossJoin(broadcast(span))
        .withColumn("nxt", lead(col("event_type"), 1).over(
          Window.partitionBy("user_id")
            .orderBy(col("ts"), col("event_id"))))
        .withColumn("nxt_us", lead(col("us"), 1).over(
          Window.partitionBy("user_id")
            .orderBy(col("ts"), col("event_id"))))
        .filter(col("nxt").isNotNull)
      val model = seq0.filter(col("nxt_us") < col("mid"))
        .groupBy(col("event_type").as("cur"), col("nxt"))
        .agg(count(lit(1)).as("n"))
        .withColumn("rn", row_number().over(Window.partitionBy("cur")
          .orderBy(col("n").desc, col("nxt"))))
        .filter(col("rn") === 1)
        .select(col("cur"), col("nxt").as("pred"))
      seq0.filter(col("us") >= col("mid"))
        .join(broadcast(model), col("event_type") === col("cur"), "left")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_test"),
          sum(when(col("nxt") === col("pred"), 1L).otherwise(0L))
            .as("n_correct"),
          max(col("pred")).as("predicted_next"))
        .withColumn("accuracy", round(col("n_correct").cast("double") /
          col("n_test"), 4))
        .orderBy("event_type")
    },
      """WITH ev AS (
           SELECT user_id, event_type, ts, event_id, epoch_us(ts) AS us
           FROM events),
         span AS (SELECT (min(us) + max(us)) // 2 AS mid FROM ev),
         s0 AS (
           SELECT ev.*, mid,
             lead(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS nxt,
             lead(us) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS nxt_us
           FROM ev CROSS JOIN span),
         model AS (
           SELECT cur, nxt AS pred FROM (
             SELECT event_type AS cur, nxt, count(*) AS n,
               row_number() OVER (PARTITION BY event_type
                 ORDER BY count(*) DESC, nxt) AS rn
             FROM s0 WHERE nxt IS NOT NULL AND nxt_us < mid
             GROUP BY 1, 2)
           WHERE rn = 1)
         SELECT event_type, count(*)::BIGINT AS n_test,
           sum(CASE WHEN nxt = pred THEN 1 ELSE 0 END)::BIGINT
             AS n_correct,
           max(pred) AS predicted_next,
           round(sum(CASE WHEN nxt = pred THEN 1 ELSE 0 END)::DOUBLE
             / count(*), 4) AS accuracy
         FROM s0 LEFT JOIN model ON s0.event_type = model.cur
         WHERE nxt IS NOT NULL AND us >= mid
         GROUP BY 1 ORDER BY 1"""),

    // CUPED VARIANCE REDUCTION (Deng WSDM'13 — the pre-experiment
    // covariate adjustment every A/B platform runs): X = first-half
    // user spend, Y = second-half; θ = cov(X,Y)/var(X) from
    // DECIMAL-exact moments; the report gates the variance-reduction
    // ratio 1 − (1 − ρ²). All sums exact integers until the fixed
    // final op sequence.
    QueryDef("q250_cuped", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val ev = events(s, dir).select(col("user_id"),
        round(col("value") * 100, 0).cast("long").as("cents"),
        expr("unix_micros(ts)").as("us"))
      val span = ev.agg(expr("(min(us) + max(us)) div 2").as("mid"))
      val per = ev.crossJoin(broadcast(span))
        .groupBy("user_id")
        .agg(sum(when(col("us") < col("mid"), col("cents"))
          .otherwise(0L)).cast("decimal(19,0)").as("x"),
          sum(when(col("us") >= col("mid"), col("cents"))
            .otherwise(0L)).cast("decimal(19,0)").as("y"))
      per.agg(count(lit(1)).cast("decimal(19,0)").as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .select(col("n").cast("long").as("n_users"),
          round(d(col("n") * col("sxy") - col("sx") * col("sy")) /
            d(col("n") * col("sxx") - col("sx") * col("sx")), 6)
            .as("theta"),
          round(
            (d(col("n") * col("sxy") - col("sx") * col("sy")) *
              d(col("n") * col("sxy") - col("sx") * col("sy"))) /
            (d(col("n") * col("sxx") - col("sx") * col("sx")) *
              d(col("n") * col("syy") - col("sy") * col("sy"))), 6)
            .as("rho2"),
          round(lit(1.0) -
            (d(col("n") * col("sxy") - col("sx") * col("sy")) *
              d(col("n") * col("sxy") - col("sx") * col("sy"))) /
            (d(col("n") * col("sxx") - col("sx") * col("sx")) *
              d(col("n") * col("syy") - col("sy") * col("sy"))), 6)
            .as("var_ratio"))
    },
      """WITH ev AS (
           SELECT user_id, round(value * 100)::BIGINT AS cents,
             epoch_us(ts) AS us
           FROM events),
         span AS (SELECT (min(us) + max(us)) // 2 AS mid FROM ev),
         per AS (
           SELECT user_id,
             sum(CASE WHEN us < mid THEN cents ELSE 0 END)::BIGINT
               AS x,
             sum(CASE WHEN us >= mid THEN cents ELSE 0 END)::BIGINT
               AS y
           FROM ev CROSS JOIN span GROUP BY 1),
         m AS (
           SELECT count(*)::BIGINT AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
           FROM per)
         SELECT n AS n_users,
           round((n * sxy - sx * sy)::DOUBLE
             / (n * sxx - sx * sx)::DOUBLE, 6) AS theta,
           round(((n * sxy - sx * sy)::DOUBLE
               * (n * sxy - sx * sy)::DOUBLE)
             / ((n * sxx - sx * sx)::DOUBLE
               * (n * syy - sy * sy)::DOUBLE), 6) AS rho2,
           round(1.0 - ((n * sxy - sx * sy)::DOUBLE
               * (n * sxy - sx * sy)::DOUBLE)
             / ((n * sxx - sx * sx)::DOUBLE
               * (n * syy - sy * sy)::DOUBLE), 6) AS var_ratio
         FROM m"""),

    // ADDITIVE DECOMPOSITION (trend + day-of-week seasonal + residual
    // — STL-lite with deterministic components): trend = centered
    // 7-day moving average over the day grain; seasonal = mean
    // detrended value per dow (sorted folds); residual closes the sum
    // exactly. The gate carries per-component variance shares so a
    // wrong component shifts hashed numbers, not just shape.
    QueryDef("q251_decomposition", (s, dir) => {
      val daily = events(s, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(round(col("value") * 100, 0).cast("long")).as("cents"))
        .withColumn("dow",
          expr("(datediff(day, date'1970-01-05') % 7 + 7) % 7"))
      val wtr = Window.orderBy("day").rowsBetween(-3, 3)
      // trend BEFORE the edge filter — filtering first would shift the
      // ±3 frame of rows adjacent to the removed edges
      val trended = daily
        .withColumn("nw", count(lit(1)).over(wtr))
        .withColumn("trend", sum(col("cents")).over(wtr)
          .cast("double") / 7.0)
        .filter(col("nw") === 7)
        .withColumn("detr", col("cents") - col("trend"))
      val seas = trended.groupBy("dow")
        .agg((ssum(collect_list(col("detr"))) / count(lit(1)))
          .as("seasonal"))
      val dec = trended.join(broadcast(seas), Seq("dow"))
        .withColumn("resid", col("detr") - col("seasonal"))
      dec.groupBy("dow")
        .agg(count(lit(1)).as("n_days"),
          round(max(col("seasonal")) / 100.0, 4).as("seasonal"),
          round(ssum(collect_list(col("resid") * col("resid")))
            / count(lit(1)) / 10000.0, 2).as("resid_var"),
          round(ssum(collect_list(abs(col("resid"))))
            / count(lit(1)) / 100.0, 4).as("resid_mad"))
        .orderBy("dow")
    },
      """WITH daily AS (
           SELECT CAST(ts AS DATE) AS day,
             sum(round(value * 100)::BIGINT)::BIGINT AS cents,
             ((CAST(ts AS DATE) - DATE '1970-01-05') % 7 + 7) % 7
               AS dow
           FROM events GROUP BY 1, 3),
         tr AS (
           SELECT *,
             count(*) OVER (ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS nw,
             sum(cents) OVER (ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)::DOUBLE / 7.0
               AS trend
           FROM daily),
         det AS (
           SELECT *, cents - trend AS detr FROM tr WHERE nw = 7),
         seas AS (
           SELECT dow,
             list_sum(list_sort(list(detr))) / count(*) AS seasonal
           FROM det GROUP BY 1),
         dec AS (
           SELECT det.*, seasonal, detr - seasonal AS resid
           FROM det JOIN seas USING (dow))
         SELECT dow::BIGINT AS dow, count(*)::BIGINT AS n_days,
           round(max(seasonal) / 100.0, 4) AS seasonal,
           round(list_sum(list_sort(list(resid * resid)))
             / count(*) / 10000.0, 2) AS resid_var,
           round(list_sum(list_sort(list(abs(resid))))
             / count(*) / 100.0, 4) AS resid_mad
         FROM dec GROUP BY 1 ORDER BY 1"""),

    // A/A CALIBRATION SWEEP (the experimentation-platform sanity
    // check: 20 null-effect hash splits should reject ~5% at α=.05):
    // each split is a different md5 seed over users, ALL splits
    // evaluate in ONE pass (explode over seeds, exact cohort counts),
    // z per split via the q164 machinery. The gate carries every
    // split's z — a biased splitter moves hashed values immediately.
    QueryDef("q252_aa_calibration", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val per = events(s, dir).groupBy("user_id")
        .agg(sum(when(col("event_type") === "purchase", 1L)
          .otherwise(0L)).as("conv"), count(lit(1)).as("n"))
        .withColumn("y", (col("conv") > 0).cast("long"))
      val splits = per.select(col("user_id"), col("y"),
          explode(sequence(lit(0), lit(19))).as("seed"))
        .withColumn("arm_a", pmod(TF.md5Hash48(
          concat(col("seed").cast("string"), lit(":"),
            col("user_id").cast("string"))), lit(2L)) === 0)
      val cells = splits.groupBy("seed")
        .agg(sum(when(col("arm_a"), 1L).otherwise(0L)).as("na"),
          sum(when(col("arm_a"), col("y")).otherwise(0L)).as("xa"),
          sum(when(!col("arm_a"), 1L).otherwise(0L)).as("nb"),
          sum(when(!col("arm_a"), col("y")).otherwise(0L)).as("xb"))
      cells
        .withColumn("pp", d(col("xa") + col("xb")) /
          d(col("na") + col("nb")))
        .withColumn("z", when(col("pp") === 0 || col("pp") === 1, 0.0)
          .otherwise((d(col("xa")) / col("na") - d(col("xb")) / col("nb"))
            / sqrt(col("pp") * (lit(1.0) - col("pp")) *
              (lit(1.0) / col("na") + lit(1.0) / col("nb")))))
        .select(col("seed"), col("na"), col("nb"),
          round(col("z"), 4).as("z"),
          (abs(col("z")) > 1.96).as("rejected"))
        .orderBy("seed")
    },
      """WITH per AS (
           SELECT user_id,
             (sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               > 0)::BIGINT AS y
           FROM events GROUP BY 1),
         sp AS (
           SELECT user_id, y, s.range AS seed,
             (('0x' || substring(md5('0:' || s.range || ':' || user_id),
               1, 12))::BIGINT % 2 = 0) AS arm_a
           FROM per CROSS JOIN range(0, 20) s),
         cells AS (
           SELECT seed,
             sum(CASE WHEN arm_a THEN 1 ELSE 0 END)::BIGINT AS na,
             sum(CASE WHEN arm_a THEN y ELSE 0 END)::BIGINT AS xa,
             sum(CASE WHEN NOT arm_a THEN 1 ELSE 0 END)::BIGINT AS nb,
             sum(CASE WHEN NOT arm_a THEN y ELSE 0 END)::BIGINT AS xb
           FROM sp GROUP BY 1),
         z AS (
           SELECT *, (xa + xb)::DOUBLE / (na + nb) AS pp
           FROM cells)
         SELECT seed::BIGINT AS seed, na, nb,
           round(CASE WHEN pp = 0 OR pp = 1 THEN 0.0
             ELSE (xa::DOUBLE / na - xb::DOUBLE / nb)
               / sqrt(pp * (1.0 - pp) * (1.0 / na + 1.0 / nb)) END, 4)
             AS z,
           (abs(CASE WHEN pp = 0 OR pp = 1 THEN 0.0
             ELSE (xa::DOUBLE / na - xb::DOUBLE / nb)
               / sqrt(pp * (1.0 - pp) * (1.0 / na + 1.0 / nb)) END)
             > 1.96) AS rejected
         FROM z ORDER BY seed"""),

    // RANK-GAUSS FEATURE TRANSFORM (percent-rank → inverse normal CDF
    // — the tabular-NN normalization that makes any distribution
    // standard-normal): exact integer mid-ranks per type, Φ⁻¹ via the
    // Beasley–Springer–Moro rational polynomial (fixed op sequence —
    // no erfinv builtin needed in either engine). Output gated on a
    // deterministic row panel; per-type moments of the transformed
    // column PROVE ≈ N(0,1) in-data.
    QueryDef("q253_rank_gauss", (s, dir) => {
      val ev = events(s, dir).select(col("event_id"),
        col("event_type").as("ty"),
        round(col("value") * 100, 0).cast("long").as("cents"))
      val full = Window.partitionBy("ty")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val ranked = ev
        .withColumn("rk", row_number().over(Window.partitionBy("ty")
          .orderBy(col("cents"), col("event_id"))))
        .withColumn("n", count(lit(1)).over(full))
        // mid-rank u in (0,1): (rk − 0.5)/n — never exactly 0 or 1
        .withColumn("u", (col("rk").cast("double") - 0.5) / col("n"))
      // Beasley–Springer–Moro: rational approx on |u−.5| ≤ .42, Moro's
      // ln-ln Chebyshev fit in the tails — identical fixed arithmetic
      // in both engines, max abs error ~3e-9
      val tf = ranked
        .withColumn("r", col("u") - 0.5)
        .withColumn("r2", col("r") * col("r"))
        .withColumn("w",
          when(col("u") < 0.5, col("u")).otherwise(lit(1.0) - col("u")))
        .withColumn("kk", log(-log(col("w"))))
        .withColumn("central", col("r") *
          (((lit(-25.44106049637) * col("r2") + 41.39119773534) *
            col("r2") - 18.61500062529) * col("r2") + 2.50662823884) /
          ((((lit(3.13082909833) * col("r2") - 21.06224101826) *
            col("r2") + 23.08336743743) * col("r2") - 8.47351093090) *
            col("r2") + 1.0))
        .withColumn("tail",
          ((((((((lit(0.0000003960315187) * col("kk")
            + 0.0000002888167364) * col("kk")
            + 0.0000321767881768) * col("kk")
            + 0.0003951896511919) * col("kk")
            + 0.0038405729373609) * col("kk")
            + 0.0276438810333863) * col("kk")
            + 0.1607979714918209) * col("kk")
            + 0.9761690190917186) * col("kk") + 0.3374754822726147))
        .withColumn("rg", when(abs(col("r")) <= 0.42, col("central"))
          .otherwise(when(col("u") < 0.5, -col("tail"))
            .otherwise(col("tail"))))
      val moments = tf.groupBy("ty")
        .agg(count(lit(1)).as("n_rows"),
          (round(ssum(collect_list(col("rg"))) / count(lit(1)), 4)
            + 0.0).as("mean_rg"),
          round(sqrt(ssum(collect_list(col("rg") * col("rg")))
            / count(lit(1))), 4).as("std_rg"))
      tf.filter(col("event_id") % 997 === 0)
        .join(moments, Seq("ty"))
        .select(col("ty"), col("event_id"),
          round(col("u"), 6).as("u"), round(col("rg"), 4).as("rank_gauss"),
          col("n_rows"), col("mean_rg"), col("std_rg"))
        .orderBy("ty", "event_id")
    },
      """WITH ev AS (
           SELECT event_id, event_type AS ty,
             round(value * 100)::BIGINT AS cents
           FROM events),
         r AS (
           SELECT *,
             row_number() OVER (PARTITION BY ty
               ORDER BY cents, event_id) AS rk,
             count(*) OVER (PARTITION BY ty) AS n
           FROM ev),
         u AS (
           SELECT *, (rk::DOUBLE - 0.5) / n AS u,
             (rk::DOUBLE - 0.5) / n - 0.5 AS rr
           FROM r),
         f AS (
           SELECT *, rr * rr AS r2,
             CASE WHEN u < 0.5 THEN u ELSE 1.0 - u END AS w
           FROM u),
         g AS (
           SELECT *, ln(-ln(w)) AS kk,
             rr * (((-25.44106049637 * r2 + 41.39119773534) * r2
               - 18.61500062529) * r2 + 2.50662823884) /
               ((((3.13082909833 * r2 - 21.06224101826) * r2
               + 23.08336743743) * r2 - 8.47351093090) * r2 + 1.0)
               AS central
           FROM f),
         h AS (
           SELECT *,
             ((((((((0.0000003960315187 * kk + 0.0000002888167364) * kk
               + 0.0000321767881768) * kk + 0.0003951896511919) * kk
               + 0.0038405729373609) * kk + 0.0276438810333863) * kk
               + 0.1607979714918209) * kk + 0.9761690190917186) * kk
               + 0.3374754822726147) AS tail
           FROM g),
         tf AS (
           SELECT *, CASE WHEN abs(rr) <= 0.42 THEN central
             WHEN u < 0.5 THEN -tail ELSE tail END AS rg
           FROM h),
         mom AS (
           SELECT ty, count(*)::BIGINT AS n_rows,
             round(list_sum(list_sort(list(rg))) / count(*), 4) + 0.0
               AS mean_rg,
             round(sqrt(list_sum(list_sort(list(rg * rg)))
               / count(*)), 4) AS std_rg
           FROM tf GROUP BY 1)
         SELECT tf.ty, event_id, round(u, 6) AS u,
           round(rg, 4) AS rank_gauss, n_rows, mean_rg, std_rg
         FROM tf JOIN mom ON tf.ty = mom.ty
         WHERE event_id % 997 = 0
         ORDER BY tf.ty, event_id"""),

    // BLOOM-FILTER FALSE-POSITIVE AUDIT (the membership sketch's
    // error contract proven in-data): a 2048-bit / k=3 bloom over the
    // first-half user set, built as 33 bit_or'd 63-bit words (the q159 encoding
    // — bit 63 would overflow DuckDB's checked shift) (associative —
    // partial aggregation does real work map-side), broadcast, probed
    // by the second-half NEW users; measured FPR lands beside the
    // (1−e^{−kn/m})^k theory value. All hashing md5, all bit ops
    // integer.
    QueryDef("q254_bloom_fpr", (s, dir) => {
      val ev = events(s, dir).select(col("user_id"),
        expr("unix_micros(ts)").as("us"))
      val span = ev.agg(expr("(min(us) + max(us)) div 2").as("mid"))
      val h = ev.crossJoin(broadcast(span))
        .groupBy("user_id", "mid")
        .agg(min(col("us")).as("first_us"))
        .withColumn("in_a", col("first_us") < col("mid"))
      def hashes(c: Column) = (0 until 3).map(k =>
        pmod(TF.md5Hash48(concat(lit(s"bl$k:"), c)), lit(2048L)))
      val words = h.filter(col("in_a"))
        .select(explode(array(hashes(col("user_id")): _*)).as("hb"))
        .select(expr("hb div 63").as("w"),
          expr("cast(shiftleft(1L, cast(hb % 63 as int)) as long)")
            .as("b"))
        .groupBy("w").agg(expr("bit_or(b)").as("word"))
      val probes = h.filter(!col("in_a"))
      val tested = probes.select(Seq(col("user_id")) ++
        hashes(col("user_id")).zipWithIndex.map { case (hc, i) =>
          hc.as(s"h$i")
        }: _*)
      def bitSet(i: Int) =
        col(s"word$i").isNotNull &&
          expr(s"(word$i & shiftleft(1L, cast(h$i % 63 as int))) != 0")
      // join each hash bit's word (3 broadcast joins of the 32-row table)
      val w0 = words.select(expr("w").as("w0"), col("word").as("word0"))
      val w1 = words.select(expr("w").as("w1"), col("word").as("word1"))
      val w2 = words.select(expr("w").as("w2"), col("word").as("word2"))
      val withWords = tested
        .join(broadcast(w0), expr("h0 div 63") === col("w0"), "left")
        .join(broadcast(w1), expr("h1 div 63") === col("w1"), "left")
        .join(broadcast(w2), expr("h2 div 63") === col("w2"), "left")
      val nA = h.filter(col("in_a")).agg(count(lit(1)).as("n_a"))
      withWords
        .withColumn("hit", bitSet(0) && bitSet(1) && bitSet(2))
        .agg(count(lit(1)).as("n_probes"),
          sum(when(col("hit"), 1L).otherwise(0L)).as("n_fp"))
        .crossJoin(broadcast(nA))
        .select(col("n_a"), col("n_probes"), col("n_fp"),
          round(col("n_fp").cast("double") / col("n_probes"), 4)
            .as("fpr_measured"),
          round(pow(lit(1.0) - exp(lit(-3.0) * col("n_a") / 2048.0),
            3.0), 4).as("fpr_theory"))
    },
      """WITH ev AS (
           SELECT user_id, epoch_us(ts) AS us FROM events),
         span AS (SELECT (min(us) + max(us)) // 2 AS mid FROM ev),
         h AS (
           SELECT user_id, (min(us) < mid) AS in_a
           FROM ev CROSS JOIN span GROUP BY user_id, mid),
         bits AS (
           SELECT unnest([
             ('0x' || substring(md5('0:bl0:' || user_id), 1, 12))
               ::BIGINT % 2048,
             ('0x' || substring(md5('0:bl1:' || user_id), 1, 12))
               ::BIGINT % 2048,
             ('0x' || substring(md5('0:bl2:' || user_id), 1, 12))
               ::BIGINT % 2048]) AS hb
           FROM h WHERE in_a),
         words AS (
           SELECT hb // 63 AS w, bit_or(1::BIGINT << (hb % 63)::INT)
             AS word
           FROM bits GROUP BY 1),
         probes AS (
           SELECT user_id,
             ('0x' || substring(md5('0:bl0:' || user_id), 1, 12))
               ::BIGINT % 2048 AS h0,
             ('0x' || substring(md5('0:bl1:' || user_id), 1, 12))
               ::BIGINT % 2048 AS h1,
             ('0x' || substring(md5('0:bl2:' || user_id), 1, 12))
               ::BIGINT % 2048 AS h2
           FROM h WHERE NOT in_a),
         ww AS (
           SELECT p.*,
             w0.word AS word0, w1.word AS word1, w2.word AS word2
           FROM probes p
           LEFT JOIN words w0 ON p.h0 // 63 = w0.w
           LEFT JOIN words w1 ON p.h1 // 63 = w1.w
           LEFT JOIN words w2 ON p.h2 // 63 = w2.w),
         res AS (
           SELECT count(*)::BIGINT AS n_probes,
             sum(CASE WHEN word0 IS NOT NULL
               AND (word0 & (1::BIGINT << (h0 % 63)::INT)) != 0
               AND word1 IS NOT NULL
               AND (word1 & (1::BIGINT << (h1 % 63)::INT)) != 0
               AND word2 IS NOT NULL
               AND (word2 & (1::BIGINT << (h2 % 63)::INT)) != 0
               THEN 1 ELSE 0 END)::BIGINT AS n_fp
           FROM ww),
         na AS (SELECT count(*)::BIGINT AS n_a FROM h WHERE in_a)
         SELECT n_a, n_probes, n_fp,
           round(n_fp::DOUBLE / n_probes, 4) AS fpr_measured,
           round(pow(1.0 - exp(-3.0 * n_a / 2048.0), 3.0), 4)
             AS fpr_theory
         FROM res CROSS JOIN na"""),

    // STRICT SEQUENTIAL FUNNEL with per-step deadlines (signup →
    // click ≤ 7d → purchase ≤ 7d — q94's funnel with the time
    // constraints real product analytics needs): two filter-then-min
    // hops (the q208 no-buffer pattern), exact integer-microsecond
    // deadlines, per-step survivor counts and conversion rates.
    QueryDef("q255_strict_funnel", (s, dir) => {
      val week = 7L * 86400L * 1000000L
      val ev = events(s, dir).select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"))
      val su = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("us")).as("t0"))
      val cl = ev.filter(col("event_type") === "click")
        .join(su, Seq("user_id"))
        .filter(col("us") >= col("t0") && col("us") <= col("t0") + week)
        .groupBy("user_id").agg(min(col("us")).as("t1"))
      val pu = ev.filter(col("event_type") === "purchase")
        .join(cl, Seq("user_id"))
        .filter(col("us") >= col("t1") && col("us") <= col("t1") + week)
        .groupBy("user_id").agg(min(col("us")).as("t2"))
      val n0 = su.agg(count(lit(1)).as("n_signup"))
      val n1 = cl.agg(count(lit(1)).as("n_click_7d"))
      val n2 = pu.agg(count(lit(1)).as("n_purchase_7d"))
      n0.crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
        .select(col("n_signup"), col("n_click_7d"), col("n_purchase_7d"),
          round(col("n_click_7d").cast("double") / col("n_signup"), 4)
            .as("step1_rate"),
          round(col("n_purchase_7d").cast("double") /
            col("n_click_7d"), 4).as("step2_rate"),
          round(col("n_purchase_7d").cast("double") /
            col("n_signup"), 4).as("overall_rate"))
    },
      """WITH ev AS (
           SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
         su AS (
           SELECT user_id, min(us) AS t0 FROM ev
           WHERE event_type = 'signup' GROUP BY 1),
         cl AS (
           SELECT ev.user_id, min(us) AS t1
           FROM ev JOIN su USING (user_id)
           WHERE event_type = 'click' AND us >= t0
             AND us <= t0 + 604800000000
           GROUP BY 1),
         pu AS (
           SELECT ev.user_id, min(us) AS t2
           FROM ev JOIN cl USING (user_id)
           WHERE event_type = 'purchase' AND us >= t1
             AND us <= t1 + 604800000000
           GROUP BY 1),
         n0 AS (SELECT count(*)::BIGINT AS n_signup FROM su),
         n1 AS (SELECT count(*)::BIGINT AS n_click_7d FROM cl),
         n2 AS (SELECT count(*)::BIGINT AS n_purchase_7d FROM pu)
         SELECT n_signup, n_click_7d, n_purchase_7d,
           round(n_click_7d::DOUBLE / n_signup, 4) AS step1_rate,
           round(n_purchase_7d::DOUBLE / n_click_7d, 4) AS step2_rate,
           round(n_purchase_7d::DOUBLE / n_signup, 4) AS overall_rate
         FROM n0 CROSS JOIN n1 CROSS JOIN n2"""),

    // CHURN LABEL GENERATION with censoring (the labeling pipeline
    // that feeds every churn model — and the leakage trap it must
    // avoid): label window = last 30 days; users first seen INSIDE
    // the window are CENSORED (too new to label), not negative. The
    // gate carries label/censor counts per activity band and PROVES
    // labeled + censored == total in every row.
    QueryDef("q257_churn_labels", (s, dir) => {
      val ev = events(s, dir).select(col("user_id"),
        expr("unix_micros(ts)").as("us"))
      val hz = ev.agg(max(col("us")).as("tmax"))
      val win = 30L * 86400L * 1000000L
      val per = ev.groupBy("user_id")
        .agg(min(col("us")).as("first_us"), max(col("us")).as("last_us"),
          count(lit(1)).as("n_events"))
        .crossJoin(broadcast(hz))
        .withColumn("censored", col("first_us") > col("tmax") - win)
        .withColumn("churned",
          !col("censored") && col("last_us") < col("tmax") - win)
        .withColumn("band", length(bin(col("n_events"))).cast("long"))
      per.groupBy("band")
        .agg(count(lit(1)).as("n_users"),
          sum(when(col("churned"), 1L).otherwise(0L)).as("n_churned"),
          sum(when(col("censored"), 1L).otherwise(0L)).as("n_censored"),
          sum(when(!col("churned") && !col("censored"), 1L)
            .otherwise(0L)).as("n_retained"))
        .withColumn("balanced",
          col("n_churned") + col("n_censored") + col("n_retained")
            === col("n_users"))
        .orderBy("band")
    },
      """WITH ev AS (
           SELECT user_id, epoch_us(ts) AS us FROM events),
         hz AS (SELECT max(us) AS tmax FROM ev),
         per AS (
           SELECT user_id, min(us) AS first_us, max(us) AS last_us,
             count(*)::BIGINT AS n_events
           FROM ev GROUP BY 1),
         lab AS (
           SELECT *,
             (first_us > tmax - 2592000000000) AS censored,
             (NOT (first_us > tmax - 2592000000000)
               AND last_us < tmax - 2592000000000) AS churned,
             length(bin(n_events))::BIGINT AS band
           FROM per CROSS JOIN hz)
         SELECT band, count(*)::BIGINT AS n_users,
           sum(CASE WHEN churned THEN 1 ELSE 0 END)::BIGINT
             AS n_churned,
           sum(CASE WHEN censored THEN 1 ELSE 0 END)::BIGINT
             AS n_censored,
           sum(CASE WHEN NOT churned AND NOT censored THEN 1 ELSE 0
             END)::BIGINT AS n_retained,
           (sum(CASE WHEN churned THEN 1 ELSE 0 END)
             + sum(CASE WHEN censored THEN 1 ELSE 0 END)
             + sum(CASE WHEN NOT churned AND NOT censored
               THEN 1 ELSE 0 END) = count(*)) AS balanced
         FROM lab GROUP BY 1 ORDER BY 1"""),

    // PERCENTILE-OF-LATEST (the "is today normal?" monitor: where the
    // most recent daily value ranks against its own 90-day history):
    // exact integer comparisons on the day-grain series — latest value
    // per type picked by rank, percentile = count(history ≤ latest)/n.
    // No percentile sketch, no sort beyond the day grain.
    QueryDef("q263_percentile_of_latest", (s, dir) => {
      val daily = events(s, dir)
        .groupBy(col("event_type").as("ty"), to_date(col("ts")).as("day"))
        .agg(sum(round(col("value") * 100, 0).cast("long")).as("cents"))
      val latest = daily.withColumn("rn", row_number().over(
          Window.partitionBy("ty").orderBy(col("day").desc)))
        .filter(col("rn") === 1)
        .select(col("ty"), col("day").as("lday"),
          col("cents").as("lcents"))
      val hist = daily.join(latest, Seq("ty"))
        .filter(col("day") < col("lday") &&
          col("day") >= date_sub(col("lday"), 90))
      hist.groupBy("ty")
        .agg(count(lit(1)).as("n_hist"),
          max(col("lcents")).as("latest_cents"),
          sum(when(col("cents") <= col("lcents"), 1L).otherwise(0L))
            .as("n_below"))
        .withColumn("pctile", round(col("n_below").cast("double") /
          col("n_hist"), 4))
        .withColumn("alert", col("n_below") * 20 >= col("n_hist") * 19
          || col("n_below") * 20 <= col("n_hist"))
        .orderBy("ty")
    },
      """WITH daily AS (
           SELECT event_type AS ty, CAST(ts AS DATE) AS day,
             sum(round(value * 100)::BIGINT)::BIGINT AS cents
           FROM events GROUP BY 1, 2),
         latest AS (
           SELECT ty, day AS lday, cents AS lcents FROM (
             SELECT *, row_number() OVER (PARTITION BY ty
               ORDER BY day DESC) AS rn
             FROM daily)
           WHERE rn = 1),
         hist AS (
           SELECT d.ty, d.cents, l.lcents
           FROM daily d JOIN latest l ON d.ty = l.ty
           WHERE d.day < l.lday AND d.day >= l.lday - 90)
         SELECT ty, count(*)::BIGINT AS n_hist,
           max(lcents)::BIGINT AS latest_cents,
           sum(CASE WHEN cents <= lcents THEN 1 ELSE 0 END)::BIGINT
             AS n_below,
           round(sum(CASE WHEN cents <= lcents THEN 1 ELSE 0 END)
             ::DOUBLE / count(*), 4) AS pctile,
           (sum(CASE WHEN cents <= lcents THEN 1 ELSE 0 END) * 20
               >= count(*) * 19
             OR sum(CASE WHEN cents <= lcents THEN 1 ELSE 0 END) * 20
               <= count(*)) AS alert
         FROM hist GROUP BY 1 ORDER BY 1"""),

    // GROWTH ACCOUNTING (new / retained / resurrected / churned per
    // week — the Social-Capital user-growth decomposition): one
    // distinct (user, week) frame, first-week per user, last-active
    // flags via a lag window — every class from exact set algebra,
    // and new+retained+resurrected == WAU is PROVED per row.
    QueryDef("q266_growth_accounting", (s, dir) => {
      val uw = events(s, dir)
        .select(col("user_id"),
          expr("datediff(to_date(ts), date'1970-01-05') div 7")
            .as("wk"))
        .distinct()
      val firstW = uw.groupBy("user_id").agg(min(col("wk")).as("fw"))
      val flagged = uw.join(firstW, Seq("user_id"))
        .withColumn("prev_wk", lag(col("wk"), 1).over(
          Window.partitionBy("user_id").orderBy("wk")))
        .withColumn("cls",
          when(col("wk") === col("fw"), "new")
            .when(col("prev_wk") === col("wk") - 1, "retained")
            .otherwise(lit("resurrected")))
      val act = flagged.groupBy("wk")
        .agg(count(lit(1)).as("wau"),
          sum(when(col("cls") === "new", 1L).otherwise(0L)).as("n_new"),
          sum(when(col("cls") === "retained", 1L).otherwise(0L))
            .as("n_retained"),
          sum(when(col("cls") === "resurrected", 1L).otherwise(0L))
            .as("n_resurrected"))
      // churned(w) = active in w-1 but not w: anti-semantics via join
      // of consecutive week activity counts
      val churn = flagged.select(col("user_id"),
          (col("wk") + 1).as("wk"))
        .except(uw.select(col("user_id"), col("wk")))
        .groupBy("wk").agg(count(lit(1)).as("n_churned"))
      act.join(churn, Seq("wk"), "left")
        .select(col("wk"), col("wau"), col("n_new"), col("n_retained"),
          col("n_resurrected"),
          coalesce(col("n_churned"), lit(0L)).as("n_churned"),
          (col("n_new") + col("n_retained") + col("n_resurrected")
            === col("wau")).as("balanced"))
        .orderBy("wk")
    },
      """WITH uw AS (
           SELECT DISTINCT user_id,
             (CAST(ts AS DATE) - DATE '1970-01-05') // 7 AS wk
           FROM events),
         fw AS (SELECT user_id, min(wk) AS fw FROM uw GROUP BY 1),
         fl AS (
           SELECT uw.user_id, wk, fw,
             lag(wk) OVER (PARTITION BY uw.user_id ORDER BY wk)
               AS prev_wk
           FROM uw JOIN fw USING (user_id)),
         cls AS (
           SELECT *, CASE WHEN wk = fw THEN 'new'
             WHEN prev_wk = wk - 1 THEN 'retained'
             ELSE 'resurrected' END AS cls
           FROM fl),
         act AS (
           SELECT wk, count(*)::BIGINT AS wau,
             sum(CASE WHEN cls = 'new' THEN 1 ELSE 0 END)::BIGINT
               AS n_new,
             sum(CASE WHEN cls = 'retained' THEN 1 ELSE 0 END)::BIGINT
               AS n_retained,
             sum(CASE WHEN cls = 'resurrected' THEN 1 ELSE 0 END)
               ::BIGINT AS n_resurrected
           FROM cls GROUP BY 1),
         churn AS (
           SELECT wk, count(*)::BIGINT AS n_churned FROM (
             SELECT user_id, wk + 1 AS wk FROM cls
             EXCEPT
             SELECT user_id, wk FROM uw)
           GROUP BY 1)
         SELECT act.wk::BIGINT AS wk, wau, n_new, n_retained,
           n_resurrected,
           coalesce(n_churned, 0)::BIGINT AS n_churned,
           (n_new + n_retained + n_resurrected = wau) AS balanced
         FROM act LEFT JOIN churn ON act.wk = churn.wk
         ORDER BY wk"""),

    // BUSY-HOUR CONCENTRATION (peak-to-mean and top-3-hour share —
    // the load-shaping numbers capacity planning runs on): exact
    // hourly counts per type, peak share and top-3 concentration by
    // integer sums, peak-to-mean via cross-multiplication display.
    QueryDef("q270_busy_hours", (s, dir) => {
      val hr = events(s, dir)
        .groupBy(col("event_type").as("ty"), hour(col("ts")).as("h"))
        .agg(count(lit(1)).as("n"))
      val ranked = hr.withColumn("rk", row_number().over(
        Window.partitionBy("ty").orderBy(col("n").desc, col("h"))))
      ranked.groupBy("ty")
        .agg(sum(col("n")).as("total"),
          count(lit(1)).as("n_hours"),
          max(when(col("rk") === 1, col("h"))).as("peak_hour"),
          max(when(col("rk") === 1, col("n"))).as("peak_n"),
          sum(when(col("rk") <= 3, col("n")).otherwise(0L)).as("top3_n"))
        .select(col("ty"), col("total"), col("peak_hour"),
          round(col("peak_n").cast("double") * col("n_hours") /
            col("total"), 4).as("peak_to_mean"),
          round(col("top3_n").cast("double") / col("total"), 4)
            .as("top3_share"))
        .orderBy("ty")
    },
      """WITH hr AS (
           SELECT event_type AS ty, hour(ts) AS h,
             count(*)::BIGINT AS n
           FROM events GROUP BY 1, 2),
         r AS (
           SELECT *, row_number() OVER (PARTITION BY ty
               ORDER BY n DESC, h) AS rk
           FROM hr)
         SELECT ty, sum(n)::BIGINT AS total,
           max(CASE WHEN rk = 1 THEN h END)::BIGINT AS peak_hour,
           round(max(CASE WHEN rk = 1 THEN n END)::DOUBLE * count(*)
             / sum(n), 4) AS peak_to_mean,
           round(sum(CASE WHEN rk <= 3 THEN n ELSE 0 END)::DOUBLE
             / sum(n), 4) AS top3_share
         FROM r GROUP BY 1 ORDER BY 1"""),

    // THRESHOLD-CROSSING FORECAST (when does the trend line hit the
    // ceiling — the capacity-planning "days of headroom" number):
    // q211's exact-moment OLS over the day grain, crossing day =
    // (threshold − intercept)/slope in closed form, gated alongside
    // the fitted line's endpoints. Metadata-sized all the way.
    QueryDef("q272_threshold_crossing", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val daily = events(s, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
        .select(expr("datediff(day, date'1970-01-05')").cast("long")
          .as("tt"), col("n"))
      val m = daily.agg(count(lit(1)).cast("decimal(19,0)").as("k"),
        sum(col("tt").cast("decimal(19,0)")).as("sx"),
        sum(col("n").cast("decimal(19,0)")).as("sy"),
        sum(col("tt").cast("decimal(19,0)") * col("n")).as("sxy"),
        sum(col("tt").cast("decimal(19,0)") * col("tt")).as("sxx"),
        max(col("tt")).as("tmax"))
      m.withColumn("slope", d(col("k") * col("sxy") -
          col("sx") * col("sy")) /
          d(col("k") * col("sxx") - col("sx") * col("sx")))
        .withColumn("intercept",
          (d(col("sy")) - col("slope") * d(col("sx"))) / d(col("k")))
        .withColumn("threshold", d(col("sy")) / d(col("k")) * 1.5)
        .withColumn("cross_t",
          (col("threshold") - col("intercept")) / col("slope"))
        .select(col("k").cast("long").as("n_days"),
          round(col("slope"), 6).as("slope"),
          round(col("intercept"), 4).as("intercept"),
          round(col("threshold"), 4).as("threshold"),
          round(col("cross_t") - col("tmax"), 2)
            .as("days_to_threshold"),
          (col("slope") > 0).as("growing"))
    },
      """WITH daily AS (
           SELECT (CAST(ts AS DATE) - DATE '1970-01-05')::BIGINT AS tt,
             count(*)::BIGINT AS n
           FROM events GROUP BY 1),
         m AS (
           SELECT count(*)::BIGINT AS k, sum(tt) AS sx, sum(n) AS sy,
             sum(tt * n) AS sxy, sum(tt * tt) AS sxx,
             max(tt)::BIGINT AS tmax
           FROM daily),
         f AS (
           SELECT *,
             (k * sxy - sx * sy)::DOUBLE
               / (k * sxx - sx * sx)::DOUBLE AS slope
           FROM m),
         g AS (
           SELECT *,
             (sy::DOUBLE - slope * sx::DOUBLE) / k::DOUBLE
               AS intercept,
             sy::DOUBLE / k::DOUBLE * 1.5 AS threshold
           FROM f)
         SELECT k AS n_days, round(slope, 6) AS slope,
           round(intercept, 4) AS intercept,
           round(threshold, 4) AS threshold,
           round((threshold - intercept) / slope - tmax, 2)
             AS days_to_threshold,
           (slope > 0) AS growing
         FROM g"""),

    // DISTRIBUTION-DRIFT MONITOR: per-day KL divergence of the
    // event-type mix against the corpus-wide mix — the composition-
    // drift alarm a training-data pipeline runs on every ingest day
    // ("this day's traffic mix changed"). Exact counts at the
    // (day, type) grain; the per-day KL folds via the sorted-sum
    // aggregator over the observed support (absent types contribute
    // no term). Day grain stays metadata-sized at any corpus scale.
    QueryDef("q276_daily_kl_drift", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val dt = events(s, dir)
        .groupBy(to_date(col("ts")).as("day"),
          col("event_type").as("ty"))
        .agg(count(lit(1)).as("n"))
      val byTy = dt.groupBy("ty").agg(sum(col("n")).as("nt"))
      val tot = byTy.agg(sum(col("nt")).as("nn"))
      dt.join(broadcast(byTy), Seq("ty"))
        .crossJoin(broadcast(tot))
        .withColumn("nd", sum(col("n")).over(Window.partitionBy("day")))
        .withColumn("term", d(col("n")) / col("nd") *
          log((d(col("n")) / col("nd")) / (d(col("nt")) / col("nn"))))
        .groupBy("day")
        .agg(max(col("nd")).as("n_events"),
          count(lit(1)).as("n_types"),
          ssum(collect_list(col("term"))).as("kl"))
        .select(col("day").cast("string").as("day"), col("n_events"),
          col("n_types"), round(col("kl"), 6).as("kl"))
        .orderBy("day")
    },
      """WITH dt AS (
           SELECT CAST(ts AS DATE) AS day, event_type AS ty,
             count(*)::BIGINT AS n
           FROM events GROUP BY 1, 2),
         bt AS (SELECT ty, sum(n)::BIGINT AS nt FROM dt GROUP BY 1),
         tot AS (SELECT sum(nt)::BIGINT AS nn FROM bt),
         j AS (
           SELECT dt.day, dt.n, bt.nt, tot.nn,
             sum(dt.n) OVER (PARTITION BY dt.day)::BIGINT AS nd
           FROM dt JOIN bt USING (ty) CROSS JOIN tot),
         k AS (
           SELECT day, max(nd)::BIGINT AS n_events,
             count(*)::BIGINT AS n_types,
             list_sum(list_sort(list(n::DOUBLE / nd
               * ln((n::DOUBLE / nd) / (nt::DOUBLE / nn))))) AS kl
           FROM j GROUP BY 1)
         SELECT day::VARCHAR AS day, n_events, n_types,
           round(kl, 6) AS kl
         FROM k ORDER BY day"""),

    // POSITION-BASED (U-SHAPED) MULTI-TOUCH ATTRIBUTION: each purchase
    // distributes its value over the user's view/click touches in a
    // 7-day lookback — first and last touch 40% each, middles split
    // the remaining 20% — in EXACT integer basis points (Σ = 10000
    // per purchase by construction, remainder bumped onto the earliest
    // middles, the q243 integer-split idiom), so channel totals are
    // bit-exact integer sums at any scale. The user-equi join bounds
    // the pair space by per-user activity; windows partition by
    // purchase.
    QueryDef("q278_attribution", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val e = events(s, dir)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pid"), col("user_id"),
          col("ts").as("pts"),
          expr("cast(round(value * 100) as bigint)").as("cents"))
      val touches = e.filter(col("event_type").isin("view", "click"))
        .select(col("user_id"), col("event_id").as("tid"),
          col("ts").as("tts"), col("event_type").as("channel"))
      val joined = purchases.join(touches, Seq("user_id"))
        .filter(col("tts") <= col("pts") &&
          col("tts") > expr("pts - interval 7 day"))
      val ranked = joined
        .withColumn("rn", row_number().over(
          Window.partitionBy("pid").orderBy(col("tts"), col("tid"))))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("pid")))
      val attributed = ranked.withColumn("bp",
          when(col("n") === 1, lit(10000L))
            .when(col("n") === 2, lit(5000L))
            .when(col("rn") === 1 || col("rn") === col("n"), lit(4000L))
            .otherwise(expr("2000 div (n - 2)") +
              when(col("rn") - 1 <= expr("2000 % (n - 2)"), 1L)
                .otherwise(0L)))
        .groupBy("channel")
        .agg(count(lit(1)).as("n_touches"),
          sum(col("cents") * col("bp")).as("cents_bp"))
      val tot = attributed.agg(sum(col("cents_bp")).as("tot"))
      attributed.crossJoin(broadcast(tot))
        .select(col("channel"), col("n_touches"),
          round(d(col("cents_bp")) / 1000000.0, 4).as("attributed_usd"),
          round(d(col("cents_bp")) / col("tot"), 6).as("share"))
        .orderBy("channel")
    },
      """WITH p AS (
           SELECT event_id AS pid, user_id, ts AS pts,
             round(value * 100)::BIGINT AS cents
           FROM events WHERE event_type = 'purchase'),
         t AS (
           SELECT user_id, event_id AS tid, ts AS tts,
             event_type AS channel
           FROM events WHERE event_type IN ('view', 'click')),
         j AS (
           SELECT * FROM p JOIN t USING (user_id)
           WHERE tts <= pts AND tts > pts - INTERVAL 7 DAY),
         r AS (
           SELECT *,
             row_number() OVER (PARTITION BY pid ORDER BY tts, tid)
               AS rn,
             count(*) OVER (PARTITION BY pid) AS n
           FROM j),
         b AS (
           SELECT channel, cents,
             (CASE WHEN n = 1 THEN 10000
                   WHEN n = 2 THEN 5000
                   WHEN rn = 1 OR rn = n THEN 4000
                   ELSE 2000 // (n - 2)
                     + (CASE WHEN rn - 1 <= 2000 % (n - 2)
                        THEN 1 ELSE 0 END)
              END)::BIGINT AS bp
           FROM r),
         a AS (
           SELECT channel, count(*)::BIGINT AS n_touches,
             sum(cents * bp)::BIGINT AS cents_bp
           FROM b GROUP BY 1),
         tot AS (SELECT sum(cents_bp)::BIGINT AS tot FROM a)
         SELECT channel, n_touches,
           round(cents_bp::DOUBLE / 1000000.0, 4) AS attributed_usd,
           round(cents_bp::DOUBLE / tot, 6) AS share
         FROM a CROSS JOIN tot ORDER BY channel"""),

    // EWMA ERROR-RATE ANOMALY (the ops-alerting smoother): per day,
    // the normalized exponentially-weighted moving average of daily
    // error counts (α=0.3 → weights 0.7^k, normalized so no init
    // convention is needed) and today's ratio against it — spike =
    // ratio > 1.5. The weighted sums run over the calendar-day PAIR
    // grain (days² is metadata-sized — the q211/q226 pattern) and
    // fold via the sorted-sum aggregator for bit-exactness.
    QueryDef("q280_ewma_anomaly", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val daily = events(s, dir).filter(col("event_type") === "error")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val a = daily.select(col("day").as("d1"), col("n").as("n1"))
      val b = Caches.small(
        daily.select(col("day").as("d2"), col("n").as("n2")))
      val pairs = a.join(broadcast(b), col("d2") <= col("d1"))
        .withColumn("w", pow(lit(0.7), datediff(col("d1"), col("d2"))))
      pairs.groupBy("d1")
        .agg(max(col("n1")).as("n_err"),
          ssum(collect_list(col("w") * col("n2"))).as("wx"),
          ssum(collect_list(col("w"))).as("ws"))
        .withColumn("ewma", col("wx") / col("ws"))
        .withColumn("ratio", round(d(col("n_err")) / col("ewma"), 4))
        .select(col("d1").cast("string").as("day"), col("n_err"),
          round(col("ewma"), 4).as("ewma"), col("ratio"),
          (col("ratio") > 1.5).as("spike"))
        .orderBy("day")
    },
      """WITH daily AS (
           SELECT CAST(ts AS DATE) AS day, count(*)::BIGINT AS n
           FROM events WHERE event_type = 'error' GROUP BY 1),
         pairs AS (
           SELECT a.day AS d1, a.n AS n1, b.n AS n2,
             power(0.7, datediff('day', b.day, a.day)) AS w
           FROM daily a JOIN daily b ON b.day <= a.day),
         e AS (
           SELECT d1, max(n1)::BIGINT AS n_err,
             list_sum(list_sort(list(w * n2))) AS wx,
             list_sum(list_sort(list(w))) AS ws
           FROM pairs GROUP BY 1),
         r AS (
           SELECT d1, n_err, wx / ws AS ewma,
             round(n_err::DOUBLE / (wx / ws), 4) AS ratio
           FROM e)
         SELECT d1::VARCHAR AS day, n_err, round(ewma, 4) AS ewma,
           ratio, (ratio > 1.5) AS spike
         FROM r ORDER BY day"""),

    // SIGNUP → FIRST-PURCHASE CONVERSION LAG: conversion rate and the
    // exact median / p90 time-to-convert. Per-user firsts are keyed
    // aggregations; the quantiles interpolate over integer MICROS and
    // are floored before display, so the cross-engine compare stays on
    // exact integers (micros < 2^52 — the interpolated midpoint is
    // exact in a double).
    QueryDef("q281_conversion_lag", (s, dir) => {
      val e = events(s, dir)
      val su = e.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("ts")).as("s0"))
      val converted = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("pt"))
        .join(su, Seq("user_id"))
        .filter(col("pt") >= col("s0"))
        .groupBy("user_id")
        .agg((unix_micros(min(col("pt"))) - unix_micros(min(col("s0"))))
          .as("lag_us"))
      val nSign = su.agg(count(lit(1)).as("n_signup"))
      converted
        .agg(count(lit(1)).as("n_converted"),
          floor(expr("percentile(lag_us, 0.5)")).as("med_us"),
          floor(expr("percentile(lag_us, 0.9)")).as("p90_us"))
        .crossJoin(broadcast(nSign))
        .select(col("n_signup"), col("n_converted"),
          round(col("n_converted").cast("double") / col("n_signup"), 6)
            .as("conv_rate"),
          round(col("med_us").cast("double") / 3.6e9, 2)
            .as("median_hours"),
          round(col("p90_us").cast("double") / 3.6e9, 2).as("p90_hours"))
    },
      """WITH su AS (
           SELECT user_id, min(ts) AS s0 FROM events
           WHERE event_type = 'signup' GROUP BY 1),
         conv AS (
           SELECT e.user_id,
             epoch_us(min(e.ts)) - epoch_us(min(su.s0)) AS lag_us
           FROM events e JOIN su USING (user_id)
           WHERE e.event_type = 'purchase' AND e.ts >= su.s0
           GROUP BY 1),
         ns AS (SELECT count(*)::BIGINT AS n_signup FROM su),
         agg AS (
           SELECT count(*)::BIGINT AS n_converted,
             floor(quantile_cont(lag_us, 0.5))::BIGINT AS med_us,
             floor(quantile_cont(lag_us, 0.9))::BIGINT AS p90_us
           FROM conv)
         SELECT n_signup, n_converted,
           round(n_converted::DOUBLE / n_signup, 6) AS conv_rate,
           round(med_us::DOUBLE / 3600000000.0, 2) AS median_hours,
           round(p90_us::DOUBLE / 3600000000.0, 2) AS p90_hours
         FROM agg CROSS JOIN ns"""),

    // GAPS-AND-ISLANDS: consecutive-active-day streaks per user via
    // the rank-difference island key (day − row_number is constant
    // within a run), aggregated to a streak-length histogram — the
    // engagement-depth profile. Everything is keyed windows + exact
    // counts; no global sort anywhere.
    QueryDef("q282_streak_histogram", (s, dir) => {
      val ud = events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
      val grp = ud.withColumn("rn", row_number().over(
          Window.partitionBy("user_id").orderBy("day")))
        .withColumn("island", expr("date_sub(day, rn)"))
      val streaks = grp.groupBy("user_id", "island")
        .agg(count(lit(1)).as("len"))
      streaks.groupBy("len")
        .agg(count(lit(1)).as("n_streaks"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("len")
    },
      """WITH ud AS (
           SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
           FROM events),
         grp AS (
           SELECT user_id, day,
             day - row_number() OVER (PARTITION BY user_id
               ORDER BY day)::INT AS island
           FROM ud),
         streaks AS (
           SELECT user_id, island, count(*)::BIGINT AS len
           FROM grp GROUP BY 1, 2)
         SELECT len, count(*)::BIGINT AS n_streaks,
           count(DISTINCT user_id)::BIGINT AS n_users
         FROM streaks GROUP BY 1 ORDER BY 1"""),

    // SESSION BOUNCE / ENTRY-CHANNEL ANALYSIS: 30-minute-gap
    // sessionization via the lag+cumulative-flag island idiom (all
    // windows user-partitioned — no global sort), then per-session
    // entry/exit events by rank and a per-entry-channel rollup:
    // sessions, bounce rate (single-event sessions), mean session
    // depth from exact integer sums. Gap test runs on integer micros.
    QueryDef("q283_session_bounce", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val uw = Window.partitionBy("user_id")
        .orderBy(col("us"), col("event_id"))
      val e = events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        .withColumn("prev_us", lag(col("us"), 1).over(uw))
        .withColumn("is_new",
          when(col("prev_us").isNull ||
            col("us") - col("prev_us") > 1800000000L, 1L).otherwise(0L))
        .withColumn("sid", sum(col("is_new")).over(
          uw.rowsBetween(Window.unboundedPreceding, 0)))
      val sw = Window.partitionBy("user_id", "sid")
        .orderBy(col("us"), col("event_id"))
      val sessions = e
        .withColumn("rn", row_number().over(sw))
        .withColumn("n", count(lit(1)).over(
          Window.partitionBy("user_id", "sid")))
        .filter(col("rn") === 1) // the rank-1 row IS the entry event
      sessions.groupBy(col("event_type").as("entry_channel"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(when(col("n") === 1, 1L).otherwise(0L)).as("n_bounces"),
          sum(col("n")).as("total_events"))
        .select(col("entry_channel"), col("n_sessions"),
          col("n_bounces"),
          round(d(col("n_bounces")) / col("n_sessions"), 6)
            .as("bounce_rate"),
          round(d(col("total_events")) / col("n_sessions"), 4)
            .as("mean_depth"))
        .orderBy("entry_channel")
    },
      """WITH e0 AS (
           SELECT user_id, event_id, event_type, epoch_us(ts) AS us
           FROM events),
         e1 AS (
           SELECT *,
             lag(us) OVER (PARTITION BY user_id
               ORDER BY us, event_id) AS prev_us
           FROM e0),
         e2 AS (
           SELECT *, (CASE WHEN prev_us IS NULL
               OR us - prev_us > 1800000000 THEN 1 ELSE 0 END)::BIGINT
             AS is_new
           FROM e1),
         e3 AS (
           SELECT *, sum(is_new) OVER (PARTITION BY user_id
             ORDER BY us, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM e2),
         s AS (
           SELECT *,
             row_number() OVER (PARTITION BY user_id, sid
               ORDER BY us, event_id) AS rn,
             count(*) OVER (PARTITION BY user_id, sid) AS n
           FROM e3),
         entries AS (SELECT * FROM s WHERE rn = 1)
         SELECT event_type AS entry_channel,
           count(*)::BIGINT AS n_sessions,
           sum(CASE WHEN n = 1 THEN 1 ELSE 0 END)::BIGINT AS n_bounces,
           round(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END)::DOUBLE
             / count(*), 6) AS bounce_rate,
           round(sum(n)::DOUBLE / count(*), 4) AS mean_depth
         FROM entries GROUP BY 1 ORDER BY 1"""),

    // BURST DETECTION (bot screening): each user's maximum event count
    // inside any sliding 60-second window, via a RANGE frame over
    // integer micros (user-partitioned — no pair join, no global
    // sort), rolled up to a burst-score histogram.
    QueryDef("q285_burst_histogram", (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("us"))
        .rangeBetween(-59999999L, 0L)
      val bursts = events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("us"))
        .withColumn("c60", count(lit(1)).over(w))
        .groupBy("user_id")
        .agg(max(col("c60")).as("burst"))
      bursts.groupBy("burst")
        .agg(count(lit(1)).as("n_users"))
        .orderBy("burst")
    },
      """WITH c AS (
           SELECT user_id,
             count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN 59999999 PRECEDING AND CURRENT ROW)
               AS c60
           FROM events),
         b AS (
           SELECT user_id, max(c60)::BIGINT AS burst
           FROM c GROUP BY 1)
         SELECT burst, count(*)::BIGINT AS n_users
         FROM b GROUP BY 1 ORDER BY 1"""),

    // EXACT PERCENTILE BANDS PER GROUP (the p50/p90/p99 ops
    // dashboard): per event type, the k-th smallest value in cents
    // picked BY RANK (k = ceil(q·n) — the classic exact definition, no
    // interpolation, no sketch): one partitioned rank window + one
    // count per type, three conditional min-picks. Integer-exact
    // end to end.
    QueryDef("q289_percentile_bands", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val e = events(s, dir)
        .select(col("event_type").as("ty"), col("event_id"),
          expr("cast(round(value * 100) as bigint)").as("cents"))
      val w = Window.partitionBy("ty").orderBy(col("cents"),
        col("event_id"))
      val ranked = e
        .withColumn("rk", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("ty")))
      def pick(q: Double, as: String) =
        max(when(col("rk") === expr(s"cast(ceil($q * n) as bigint)"),
          col("cents"))).as(as)
      ranked.groupBy("ty")
        .agg(max(col("n")).as("n_events"),
          pick(0.50, "p50_cents"), pick(0.90, "p90_cents"),
          pick(0.99, "p99_cents"))
        .select(col("ty"), col("n_events"),
          round(d(col("p50_cents")) / 100.0, 2).as("p50"),
          round(d(col("p90_cents")) / 100.0, 2).as("p90"),
          round(d(col("p99_cents")) / 100.0, 2).as("p99"))
        .orderBy("ty")
    },
      """WITH e AS (
           SELECT event_type AS ty, event_id,
             round(value * 100)::BIGINT AS cents
           FROM events),
         r AS (
           SELECT *,
             row_number() OVER (PARTITION BY ty
               ORDER BY cents, event_id)::BIGINT AS rk,
             count(*) OVER (PARTITION BY ty)::BIGINT AS n
           FROM e)
         SELECT ty, max(n)::BIGINT AS n_events,
           round(max(CASE WHEN rk = ceil(0.5 * n)::BIGINT
             THEN cents END)::DOUBLE / 100.0, 2) AS p50,
           round(max(CASE WHEN rk = ceil(0.9 * n)::BIGINT
             THEN cents END)::DOUBLE / 100.0, 2) AS p90,
           round(max(CASE WHEN rk = ceil(0.99 * n)::BIGINT
             THEN cents END)::DOUBLE / 100.0, 2) AS p99
         FROM r GROUP BY 1 ORDER BY 1"""),

    // SEASONAL-NAIVE FORECAST BACKTEST (the baseline every forecaster
    // must beat): predict each day's per-type event count with the
    // value 7 days earlier (day-grain self-join — no window state),
    // score MAPE and sMAPE per type from exact integer counts with
    // sorted folds over the day grain.
    QueryDef("q299_seasonal_backtest", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val daily = events(s, dir)
        .groupBy(col("event_type").as("ty"),
          expr("datediff(to_date(ts), date'1970-01-05')").as("dd"))
        .agg(count(lit(1)).as("n"))
      val pred = daily.select(col("ty"), (col("dd") + 7).as("dd"),
        col("n").as("pred"))
      val scored = daily.join(pred, Seq("ty", "dd"))
        .withColumn("ape", abs(d(col("n") - col("pred"))) / col("n"))
        .withColumn("sape", abs(d(col("n") - col("pred"))) * 2.0
          / (col("n") + col("pred")))
      scored.groupBy("ty")
        .agg(count(lit(1)).as("n_days"),
          round(ssum(collect_list(col("ape"))) / count(lit(1)) * 100, 4)
            .as("mape_pct"),
          round(ssum(collect_list(col("sape"))) / count(lit(1)) * 100, 4)
            .as("smape_pct"))
        .orderBy("ty")
    },
      """WITH daily AS (
           SELECT event_type AS ty,
             datediff('day', DATE '1970-01-05', CAST(ts AS DATE)) AS dd,
             count(*)::BIGINT AS n
           FROM events GROUP BY 1, 2),
         pred AS (
           SELECT ty, dd + 7 AS dd, n AS pred FROM daily),
         scored AS (
           SELECT d.ty,
             abs((d.n - p.pred)::DOUBLE) / d.n AS ape,
             abs((d.n - p.pred)::DOUBLE) * 2.0 / (d.n + p.pred) AS sape
           FROM daily d JOIN pred p USING (ty, dd))
         SELECT ty, count(*)::BIGINT AS n_days,
           round(list_sum(list_sort(list(ape))) / count(*) * 100, 4)
             AS mape_pct,
           round(list_sum(list_sort(list(sape))) / count(*) * 100, 4)
             AS smape_pct
         FROM scored GROUP BY 1 ORDER BY 1"""),

    // HOLT LINEAR-TREND BACKTEST (double exponential smoothing,
    // α = β = 0.5): one-step-ahead forecasts over each type's daily
    // count series, MAPE from observation 3 on. The dyadic smoothing
    // constants keep every level/trend update EXACT binary arithmetic
    // on integer counts, so the sequential fold replays bit-for-bit in
    // the oracle's list_reduce. One shuffle to the (type, day) grain,
    // then a per-type sorted fold — no window state, no driver loop.
    QueryDef("q303_holt_backtest", (s, dir) => {
      val daily = events(s, dir)
        .groupBy(col("event_type").as("ty"),
          expr("datediff(to_date(ts), date'1970-01-05')").as("dd"))
        .agg(count(lit(1)).as("n"))
      val obs = sort_array(collect_list(array(col("dd").cast("double"),
        col("n").cast("double"))))
      val folded = aggregate(obs,
        typedlit(Array(0.0, 0.0, 0.0, 0.0, 0.0)),
        (acc, x) => {
          val idx = element_at(acc, 1)
          val l = element_at(acc, 2)
          val tr = element_at(acc, 3)
          val y = element_at(x, 2)
          val l2 = (y + l + tr) * 0.5
          when(idx === 0.0,
              array(lit(1.0), y, lit(0.0), lit(0.0), lit(0.0)))
            .when(idx === 1.0,
              array(lit(2.0), y, y - l, lit(0.0), lit(0.0)))
            .otherwise(array(idx + 1.0, l2,
              (l2 - l) * 0.5 + tr * 0.5,
              element_at(acc, 4) + abs(y - (l + tr)) / y,
              element_at(acc, 5) + 1.0))
        })
      daily.groupBy("ty").agg(folded.as("st"))
        .select(col("ty"),
          element_at(col("st"), 5).cast("long").as("n_scored"),
          round(element_at(col("st"), 4) / element_at(col("st"), 5)
            * 100, 4).as("holt_mape_pct"))
        .orderBy("ty")
    },
      """WITH daily AS (
           SELECT event_type AS ty,
             datediff('day', DATE '1970-01-05', CAST(ts AS DATE)) AS dd,
             count(*)::BIGINT AS n
           FROM events GROUP BY 1, 2),
         folded AS (
           SELECT ty, list_reduce(list_prepend(
             CAST([0.0, 0.0, 0.0, 0.0, 0.0] AS DOUBLE[]),
             list_sort(list([dd::DOUBLE, n::DOUBLE]))), (acc, x) ->
             CASE WHEN acc[1] = 0.0
                  THEN [1.0, x[2], 0.0, 0.0, 0.0]
                  WHEN acc[1] = 1.0
                  THEN [2.0, x[2], x[2] - acc[2], 0.0, 0.0]
                  ELSE [acc[1] + 1.0,
                        (x[2] + acc[2] + acc[3]) * 0.5,
                        ((x[2] + acc[2] + acc[3]) * 0.5 - acc[2]) * 0.5
                          + acc[3] * 0.5,
                        acc[4] + abs(x[2] - (acc[2] + acc[3])) / x[2],
                        acc[5] + 1.0] END) AS st
           FROM daily GROUP BY 1)
         SELECT ty, st[5]::BIGINT AS n_scored,
           round(st[4] / st[5] * 100, 4) AS holt_mape_pct
         FROM folded ORDER BY ty"""),

    // LEAKAGE-SAFE GROUPED K-FOLD ASSIGNMENT (the split rule for
    // behavioral data: every event of a user lands in the SAME fold,
    // so user-level signal never leaks across train/validation): fold
    // = deterministic md5 of the user id mod 5, rolled up to fold
    // sizes and per-type composition. Map-side hash, one aggregate.
    QueryDef("q326_grouped_folds", (s, dir) => {
      events(s, dir)
        .select(col("user_id"), col("event_type"))
        .withColumn("fold",
          pmod(TF.md5Hash48(concat(lit("fold"), col("user_id"))), lit(5L)))
        .groupBy("fold")
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("n_purchases"))
        .orderBy("fold")
    },
      """WITH e AS (
           SELECT user_id, event_type,
             (('0x' || substring(md5('0:fold' || CAST(user_id AS VARCHAR)),
               1, 12))::BIGINT) % 5 AS fold
           FROM events)
         SELECT fold, count(DISTINCT user_id) AS n_users,
           count(*) AS n_events,
           sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT
             AS n_purchases
         FROM e GROUP BY 1 ORDER BY fold"""),
  )
}
