package graft
package queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.{Dedup, TextFunctions => TF}
import graft.functions.SortedSumD.{sortedSum => ssum}
import graft.ops.{Caches, Sketches}

import Shared.t

/** Statistics, estimators and sketches over the TPC-H tables. */
object StatsQueries {

  val all: Seq[QueryDef] = Seq(

    // Exact median + deterministic mode per group (mode ties broken by
    // lowest value — replayed by the oracle's count-desc/value-asc rank,
    // because sf0.001's N group has a genuine tie).
    QueryDef("q42_median_mode", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(median(col("l_quantity")), 4).as("med_qty"),
          // round to 3 (odd) decimals: even-count medians are midpoints
          // of 2-decimal prices, i.e. exact 3-decimal values — rounding
          // to 2 would sit ON the half-way boundary where the engines'
          // interpolation ulps ((a+b)/2 vs a+(b-a)/2) disagree
          round(median(col("l_extendedprice")), 3).as("med_price"),
          mode(col("l_quantity"), deterministic = true).as("mode_qty"))
        .orderBy("l_returnflag")
    },
      """WITH md AS (
           SELECT l_returnflag, round(median(l_quantity),4) AS med_qty,
                  round(median(l_extendedprice),3) AS med_price
           FROM lineitem GROUP BY 1),
         c AS (
           SELECT l_returnflag, l_quantity AS v, count(*) AS c
           FROM lineitem GROUP BY 1,2),
         r AS (
           SELECT l_returnflag, v,
             row_number() OVER (PARTITION BY l_returnflag
               ORDER BY c DESC, v ASC) AS rn
           FROM c)
         SELECT md.l_returnflag, md.med_qty, md.med_price, r.v AS mode_qty
         FROM md JOIN r ON md.l_returnflag = r.l_returnflag AND r.rn = 1
         ORDER BY 1"""),

    // Exact interpolated percentiles per group (Spark `percentile` ==
    // DuckDB `quantile_cont` semantics).
    QueryDef("q38_percentiles", (s, dir) => {
      // Measured rejection (r15, verdict item 6): moving the
      // near-unique l_extendedprice p90 to
      // Selection.exactQuantilesContGrouped (bit-parity pinned by
      // SelectionSpec) ran 1.41 -> 1.74 s isolated at sf0.1 — the two
      // extra selection passes + join cost more than the built-in's
      // per-group value map while the maps stay memory-resident. The
      // grouped selection remains the documented scale path for when
      // a group's distinct-value domain stops fitting an aggregation
      // buffer; at the bench SFs the built-in is the right shape.
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_quantity, 0.5)"), 4).as("p50_qty"),
          round(expr("percentile(l_extendedprice, 0.9)"), 2).as("p90_price"),
          round(expr("percentile(l_discount, array(0.25, 0.75))[0]"), 4)
            .as("p25_disc"))
        .orderBy("l_returnflag")
    },
      """SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.5), 4) AS p50_qty,
           round(quantile_cont(l_extendedprice, 0.9), 2) AS p90_price,
           round(quantile_cont(l_discount, 0.25), 4) AS p25_disc
         FROM lineitem GROUP BY 1 ORDER BY 1"""),

    // Equal-frequency (decile) binning the SCALE-SAFE way: exact
    // percentile boundaries from one aggregation, broadcast back,
    // map-side assignment — no global ntile sort anywhere (the
    // single-partition window hazard q26 documents for rankings).
    QueryDef("q107_decile_binning", (s, dir) => {
      val orders = t(s, dir, "orders")
      val bounds = orders.agg(expr(
        "percentile(o_totalprice, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))")
        .as("bs"))
      orders.crossJoin(broadcast(bounds))
        .select(col("o_totalprice"),
          (lit(1) + size(filter(col("bs"), b => col("o_totalprice") > b)))
            .as("decile"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n"),
          round(min(col("o_totalprice")), 2).as("lo"),
          round(max(col("o_totalprice")), 2).as("hi"))
        .orderBy("decile")
    },
      """WITH b AS (
           SELECT quantile_cont(o_totalprice,
             [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bs
           FROM orders),
         a AS (
           SELECT o_totalprice,
             1 + len(list_filter(bs, x -> o_totalprice > x)) AS decile
           FROM orders, b)
         SELECT decile, count(*) AS n,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi
         FROM a GROUP BY 1 ORDER BY 1"""),

    // Pareto / contribution analysis: per-nation revenue summed as an
    // EXACT decimal (associative, fixed-size buffer — replaces a sorted
    // fold that collected the whole fact table per nation), converted
    // to double only at the 25-row aggregate (numerator < 2^53, so the
    // conversion is exact on both engines); share and cumulative share
    // run in explicitly ordered window frames over nation-count rows.
    QueryDef("q126_pareto", (s, dir) => {
      val cust = t(s, dir, "customer").select("c_custkey", "c_nationkey")
      val nat = t(s, dir, "nation").select("n_nationkey", "n_name")
      val ord = t(s, dir, "orders").select("o_orderkey", "o_custkey")
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"),
          (col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(3,2)") - col("l_discount").cast("decimal(3,2)")))
            .as("rev"))
      // Caches.small: the 25-row nation grain becomes a checkpointed
      // scan the gate PROVES bounded under the global windows below
      val byNation = Caches.small(li
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(sum(col("rev")).cast("double").as("rev")))
      val ordered = Window.orderBy(col("rev").desc, col("n_name"))
      val cum = ordered.rowsBetween(Window.unboundedPreceding, 0)
      val all = ordered.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      byNation.select(col("n_name"), round(col("rev"), 2).as("revenue"),
          round(col("rev") / sum(col("rev")).over(all), 4).as("share"),
          round(sum(col("rev")).over(cum) / sum(col("rev")).over(all), 4)
            .as("cum_share"))
        .withColumn("pareto80", (col("cum_share") <= 0.8).cast("long"))
        .orderBy(col("revenue").desc, col("n_name"))
    },
      // Exact decimal per-nation sum, converted to double at the 25-row
      // aggregate (numerator < 2^53 → conversion exact on both engines).
      """WITH r AS (
           SELECT n_name, CAST(sum(
             l_extendedprice::DECIMAL(18,2)
               * (1 - l_discount::DECIMAL(3,2))) AS DOUBLE) AS rev
           FROM lineitem l
           JOIN orders o ON l.l_orderkey = o.o_orderkey
           JOIN customer c ON o.o_custkey = c.c_custkey
           JOIN nation n ON c.c_nationkey = n.n_nationkey
           GROUP BY 1)
         SELECT n_name, round(rev, 2) AS revenue,
           round(rev / sum(rev) OVER (ORDER BY rev DESC, n_name
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 4)
             AS share,
           round(sum(rev) OVER (ORDER BY rev DESC, n_name
               ROWS UNBOUNDED PRECEDING)
             / sum(rev) OVER (ORDER BY rev DESC, n_name
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
             4) AS cum_share,
           (round(sum(rev) OVER (ORDER BY rev DESC, n_name
               ROWS UNBOUNDED PRECEDING)
             / sum(rev) OVER (ORDER BY rev DESC, n_name
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
             4) <= 0.8::DOUBLE)::BIGINT AS pareto80
         FROM r ORDER BY revenue DESC, n_name"""),

    // Grouped Pearson CORRELATION with deterministic float math: the
    // five sufficient statistics run through a TWO-LEVEL sorted fold
    // (the builtin corr sums in partition order — unreplayable). Level 1
    // folds within 4096 l_orderkey buckets, level 2 folds the sorted
    // bucket subtotals — every aggregation buffer is O(group/4096) or
    // O(4096), never the whole group (the single-level sorted fold this
    // replaces collected all of lineitem into 3 buffers — an OOM at
    // 100×). Both levels sort before folding, so the summation order is
    // a pure function of the multiset of values: bit-identical on any
    // engine, any partitioning, any scale.
    QueryDef("q82_corr", (s, dir) => {
      def sfold(c: Column) = ssum(collect_list(c))
      val x = col("l_quantity"); val y = col("l_extendedprice")
      val l1 = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), pmod(col("l_orderkey"), lit(4096)).as("b"))
        .agg(count(lit(1)).as("n1"),
          sfold(x).as("sx1"), sfold(y).as("sy1"),
          sfold(x * y).as("sxy1"),
          sfold(x * x).as("sxx1"), sfold(y * y).as("syy1"))
      l1.groupBy(col("l_returnflag"))
        .agg(sum(col("n1")).cast("double").as("n"),
          sfold(col("sx1")).as("sx"), sfold(col("sy1")).as("sy"),
          sfold(col("sxy1")).as("sxy"),
          sfold(col("sxx1")).as("sxx"), sfold(col("syy1")).as("syy"))
        .select(col("l_returnflag"),
          round((col("n") * col("sxy") - col("sx") * col("sy"))
            / (sqrt(col("n") * col("sxx") - col("sx") * col("sx"))
              * sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 6)
            .as("corr"),
          col("n").cast("long").as("n"))
        .orderBy("l_returnflag")
    },
      // Two-level sorted fold, mirroring the Spark side exactly: fold
      // within l_orderkey%4096 buckets, then fold the sorted subtotals —
      // the summation order is a pure function of the value multiset.
      """WITH l1 AS (
           SELECT l_returnflag, l_orderkey % 4096 AS b,
             count(*) AS n1,
             list_sum(list_sort(list(l_quantity))) AS sx1,
             list_sum(list_sort(list(l_extendedprice))) AS sy1,
             list_sum(list_sort(list(l_quantity * l_extendedprice))) AS sxy1,
             list_sum(list_sort(list(l_quantity * l_quantity))) AS sxx1,
             list_sum(list_sort(list(l_extendedprice * l_extendedprice)))
               AS syy1
           FROM lineitem GROUP BY 1, 2),
         st AS (
           SELECT l_returnflag,
             CAST(sum(n1) AS DOUBLE) AS n,
             list_sum(list_sort(list(sx1))) AS sx,
             list_sum(list_sort(list(sy1))) AS sy,
             list_sum(list_sort(list(sxy1))) AS sxy,
             list_sum(list_sort(list(sxx1))) AS sxx,
             list_sum(list_sort(list(syy1))) AS syy
           FROM l1 GROUP BY 1)
         SELECT l_returnflag,
           round((n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
             AS corr,
           CAST(n AS BIGINT) AS n
         FROM st ORDER BY l_returnflag"""),

    // HISTOGRAM profiling: explicit floor bucketing (identical double
    // expression on both engines — width_bucket builtins differ in
    // operation order at bucket edges) + count/sum-free occupancy.
    QueryDef("q81_histogram", (s, dir) => {
      t(s, dir, "orders")
        .select(least(floor(col("o_totalprice") / lit(50000.0)), lit(9L))
          .cast("long").as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"))
        .orderBy("bucket")
    },
      """SELECT CAST(least(floor(o_totalprice / 50000.0), 9) AS BIGINT)
             AS bucket,
           count(*) AS n
         FROM orders GROUP BY 1 ORDER BY 1"""),

    // KLL quantile sketch (functions.QuantileSketchAgg) under its
    // rank-error CONTRACT: the sketch estimate's true rank must lie
    // within eps*n of the target rank ceil(p*n). The estimate itself is
    // partition-order-dependent (like every mergeable sketch), so the
    // oracle row carries only deterministic columns: the probe, the
    // EXACT quantile (percentile(array(...)) ≡ DuckDB quantile_cont,
    // the parity q38/q107 already gate — ONE buffer for all probes),
    // and the boolean bound check. If the sketch ever violates its
    // eps=0.05 contract (worst-case analytic bound at k=512 is ~1% of n
    // here), within_eps flips false and the row hash-mismatches — a
    // driver-visible gate on the approximation, not just on plumbing.
    QueryDef("q151_kll_quantile_bound", (s, dir) => {
      val probes = Seq(1, 5, 25, 50, 75, 90, 99)
      val eps = 0.05
      // native TypedImperativeAggregate (KllQuantiles) — same sketch
      // kernel as the typed Aggregator, minus the per-row encoder round
      // trip that dominated this query (see KllQuantiles scaladoc)
      val sk = (c: Column) => graft.functions.KllQuantiles
        .kllQuantiles(c, 512, probes.map(_ / 100.0))
      val vals = t(s, dir, "lineitem")
        .select(col("l_extendedprice").cast("double").as("v"))
      // exact ground-truth quantiles by bracketed selection
      // (Selection.exactQuantilesCont, bit-parity with Spark's
      // percentile): the built-in exact Percentile aggregate hashes
      // every distinct double (boxed) and sorts the whole domain —
      // measured 2.7 s of this query at sf0.1 and the wrong shape for
      // an exact ground truth at corpus scale
      val exacts = graft.ops.Selection.exactQuantilesCont(
        vals, col("v"), probes.map(_ / 100.0))
      val ests = vals.agg(sk(col("v")).as("ests"))
      // true rank of each estimate: ONE groupless scan carrying the
      // 7-entry estimate array (broadcast scalar frame) and emitting 7
      // conditional sums — all map-side codegen. The r13 form exploded
      // the estimates to 7 rows and crossJoined them back onto the
      // corpus (7× the rows through a mixed-key hash aggregate,
      // measured ~2.5 s of the query at sf0.1); the rank counts never
      // needed a groupBy at all.
      val counted = vals.crossJoin(broadcast(ests))
        .agg(array(probes.indices.map(i =>
            sum(when(col("v") <= element_at(col("ests"), i + 1), 1L)
              .otherwise(0L))): _*).as("rks"))
      counted.select(col("rks"), posexplode(lit(probes.toArray)))
        .join(broadcast(exacts), Seq("pos"))
        .select(col("col").as("probe_pct"),
          round(col("exact"), 2).as("exact_q"),
          (abs(element_at(col("rks"), col("pos") + 1) -
            ceil(col("col") / lit(100.0) * col("n")))
            <= lit(eps) * col("n")).as("within_eps"))
        .orderBy("probe_pct")
    },
      """WITH q AS (SELECT
           round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.01), 2) AS q1,
           round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.05), 2) AS q5,
           round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.25), 2) AS q25,
           round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.50), 2) AS q50,
           round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.75), 2) AS q75,
           round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.90), 2) AS q90,
           round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.99), 2) AS q99
         FROM lineitem)
         SELECT 1 AS probe_pct, q1 AS exact_q, true AS within_eps FROM q
         UNION ALL SELECT 5, q5, true FROM q
         UNION ALL SELECT 25, q25, true FROM q
         UNION ALL SELECT 50, q50, true FROM q
         UNION ALL SELECT 75, q75, true FROM q
         UNION ALL SELECT 90, q90, true FROM q
         UNION ALL SELECT 99, q99, true FROM q
         ORDER BY probe_pct"""),

    // BENFORD FIRST-DIGIT ANALYSIS (fraud/data-quality screening):
    // observed first-significant-digit counts of order totals vs the
    // Benford expectation log10(1+1/d), with the chi-square
    // contribution per digit. The digit comes from the INTEGER cents
    // string (no float log10 on data); the nine expected probabilities
    // are fixed 12-dp literals, so both engines run identical double
    // arithmetic. One 9-group aggregation; column-pruned scan.
    QueryDef("q154_benford", (s, dir) => {
      val expP = Map(1 -> 0.301029995664, 2 -> 0.176091259056,
        3 -> 0.124938736608, 4 -> 0.096910013008, 5 -> 0.079181246048,
        6 -> 0.066946789631, 7 -> 0.057991946978, 8 -> 0.051152522447,
        9 -> 0.045757490561)
      val counts = t(s, dir, "orders")
        .filter(col("o_totalprice") > 0)
        .select(substring(round(col("o_totalprice") * 100, 0)
          .cast("long").cast("string"), 1, 1).cast("int").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("obs"))
      val tot = counts.agg(sum(col("obs")).as("n"))
      val p = expP.foldLeft(lit(0.0)) { case (acc, (d, v)) =>
        when(col("digit") === d, lit(v)).otherwise(acc) }
      counts.crossJoin(broadcast(tot))
        .select(col("digit"), col("obs"), round(p, 6).as("expected_p"),
          round((col("obs").cast("double") - col("n").cast("double") * p) *
            (col("obs").cast("double") - col("n").cast("double") * p) /
            (col("n").cast("double") * p), 4).as("chi2_term"))
        .orderBy("digit")
    },
      """WITH d AS (
           SELECT CAST(substring(CAST(round(o_totalprice * 100)::BIGINT
             AS VARCHAR), 1, 1) AS INTEGER) AS digit
           FROM orders WHERE o_totalprice > 0),
         c AS (SELECT digit, count(*)::BIGINT AS obs FROM d GROUP BY 1),
         t AS (SELECT sum(obs)::BIGINT AS n FROM c),
         p AS (SELECT c.digit, c.obs, t.n,
           (CASE c.digit WHEN 1 THEN 0.301029995664 WHEN 2 THEN
             0.176091259056 WHEN 3 THEN 0.124938736608 WHEN 4 THEN
             0.096910013008 WHEN 5 THEN 0.079181246048 WHEN 6 THEN
             0.066946789631 WHEN 7 THEN 0.057991946978 WHEN 8 THEN
             0.051152522447 ELSE 0.045757490561 END)::DOUBLE AS p
           FROM c CROSS JOIN t)
         SELECT digit, obs, round(p, 6) AS expected_p,
           round((obs::DOUBLE - n::DOUBLE * p) *
             (obs::DOUBLE - n::DOUBLE * p) / (n::DOUBLE * p), 4)
             AS chi2_term
         FROM p ORDER BY digit"""),

    // HHI MARKET CONCENTRATION per segment: Herfindahl–Hirschman index
    // of customer revenue shares. The share-square sum is computed as
    // Σc² / (Σc)² over EXACT integer cents (per-customer squares summed
    // in decimal(38,0) ≡ DuckDB's HUGEINT — order-independent, no
    // float-addition drift), converted to double only for the final
    // division. Two aggregations: per-customer cents, then per-segment.
    QueryDef("q155_hhi", (s, dir) => {
      val rev = t(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
          .as("cents"))
      val seg = t(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      rev.join(seg, Seq("o_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_customers"),
          sum(col("cents")).as("seg_cents"),
          sum((col("cents") * col("cents")).cast("decimal(38,0)"))
            .as("sumsq"))
        .select(col("c_mktsegment"), col("n_customers"), col("seg_cents"),
          round(col("sumsq").cast("double") /
            (col("seg_cents").cast("double") *
              col("seg_cents").cast("double")) * 10000, 4).as("hhi_x10k"))
        .orderBy("c_mktsegment")
    },
      """WITH rev AS (
           SELECT o_custkey,
             sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
           FROM orders GROUP BY 1),
         j AS (
           SELECT c.c_mktsegment, r.cents
           FROM rev r JOIN customer c ON r.o_custkey = c.c_custkey)
         SELECT c_mktsegment, count(*)::BIGINT AS n_customers,
           sum(cents)::BIGINT AS seg_cents,
           round(sum(cents * cents)::DOUBLE /
             (sum(cents)::DOUBLE * sum(cents)::DOUBLE) * 10000, 4)
             AS hhi_x10k
         FROM j GROUP BY 1 ORDER BY 1"""),

    // GROUPED LINEAR REGRESSION, closed form on exact sums: slope /
    // intercept / R² of price-cents on quantity per return flag. The
    // five moment sums (Σx, Σy, Σxy, Σx², Σy²) are EXACT integers
    // (cents; Σy² in decimal(38,0) ≡ HUGEINT), aggregated with map-side
    // partials in ONE pass — the determinism-safe alternative to
    // builtin regr_slope's order-dependent double accumulation. The
    // normal-equation arithmetic then runs on doubles cast from the
    // same exact integers in the same order on both engines.
    QueryDef("q157_grouped_regression", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val sums = t(s, dir, "lineitem")
        .select(col("l_returnflag"),
          round(col("l_quantity"), 0).cast("long").as("x"),
          round(col("l_extendedprice") * 100, 0).cast("long").as("y"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum((col("y") * col("y")).cast("decimal(38,0)")).as("syy"))
      sums
        .withColumn("num", d(col("n")) * d(col("sxy")) -
          d(col("sx")) * d(col("sy")))
        .withColumn("den", d(col("n")) * d(col("sxx")) -
          d(col("sx")) * d(col("sx")))
        .withColumn("deny", d(col("n")) * d(col("syy")) -
          d(col("sy")) * d(col("sy")))
        .withColumn("slope", col("num") / col("den"))
        .select(col("l_returnflag"), col("n"),
          round(col("slope"), 6).as("slope_cents"),
          round((d(col("sy")) - col("slope") * d(col("sx"))) / d(col("n")),
            2).as("intercept_cents"),
          round(col("num") * col("num") / (col("den") * col("deny")), 6)
            .as("r2"))
        .orderBy("l_returnflag")
    },
      """WITH b AS (
           SELECT l_returnflag, round(l_quantity)::BIGINT AS x,
             round(l_extendedprice * 100)::BIGINT AS y
           FROM lineitem),
         s AS (
           SELECT l_returnflag, count(*)::BIGINT AS n,
             sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
             sum(x * y)::BIGINT AS sxy, sum(x * x)::BIGINT AS sxx,
             sum(y * y) AS syy
           FROM b GROUP BY 1),
         m AS (
           SELECT l_returnflag, n, sx, sy,
             n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE AS num,
             n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE AS den,
             n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE AS deny
           FROM s),
         m2 AS (SELECT *, num / den AS slope FROM m)
         SELECT l_returnflag, n, round(slope, 6) AS slope_cents,
           round((sy::DOUBLE - slope * sx::DOUBLE) / n::DOUBLE, 2)
             AS intercept_cents,
           round(num * num / (den * deny), 6) AS r2
         FROM m2 ORDER BY l_returnflag"""),

    // GINI CONCENTRATION INDEX per market segment (inequality profiling
    // — the "is this key space skewed?" diagnostic at portfolio level):
    // G = (2·Σ rᵢxᵢ − (n+1)·Σx) / (n·Σx) over ascending-ranked exact
    // cents. One per-segment rank window (distributed sort, bounded by
    // segment size) + one aggregation; every sum is DECIMAL(38,0) so
    // Σ r·x cannot overflow at any scale — doubles enter only in the
    // single final division (same exact integer→double rounding in both
    // engines).
    QueryDef("q171_gini", (s, dir) => {
      val c = t(s, dir, "customer")
        .filter(col("c_acctbal") > 0)
        .select(col("c_mktsegment").as("seg"),
          round(col("c_acctbal") * 100, 0).cast("decimal(19,0)").as("cents"),
          col("c_custkey"))
      val ranked = c.withColumn("rk", row_number().over(
        Window.partitionBy("seg").orderBy(col("cents"), col("c_custkey")))
        .cast("decimal(19,0)"))
      ranked.groupBy("seg")
        .agg(count(lit(1)).as("n"),
          sum(col("cents")).as("tot"),
          sum(col("rk") * col("cents")).as("rx"))
        .select(col("seg"), col("n"),
          round(col("tot").cast("double") / 100.0, 2).as("total_bal"),
          round((lit(2) * col("rx") - (col("n") + lit(1)) * col("tot"))
            .cast("double") /
            (col("n") * col("tot")).cast("double"), 6).as("gini"))
        .orderBy("seg")
    },
      """WITH c AS (
           SELECT c_mktsegment AS seg,
             round(c_acctbal * 100)::BIGINT AS cents, c_custkey
           FROM customer WHERE c_acctbal > 0),
         r AS (
           SELECT seg, cents,
             row_number() OVER (PARTITION BY seg
               ORDER BY cents, c_custkey) AS rk
           FROM c),
         a AS (
           SELECT seg, count(*)::BIGINT AS n, sum(cents) AS tot,
             sum(rk * cents) AS rx
           FROM r GROUP BY 1)
         SELECT seg, n, round(tot::DOUBLE / 100.0, 2) AS total_bal,
           round((2 * rx - (n + 1) * tot)::DOUBLE
             / (n * tot)::DOUBLE, 6) AS gini
         FROM a ORDER BY seg"""),

    // AUTOCORRELATION FUNCTION of the daily-revenue series at lags 1–7
    // (the seasonality/persistence diagnostic behind forecast features):
    // the full-size table collapses to one row per calendar day FIRST
    // (bounded by the date span, not the data), so the lag windows and
    // Pearson terms run on a metadata-sized series. Moment sums are
    // DECIMAL(38,0)-exact; doubles appear only in the final fixed
    // formula.
    QueryDef("q175_acf", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val daily = t(s, dir, "lineitem")
        .groupBy(to_date(col("l_shipdate")).as("day"))
        .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long"))
          .as("cents"))
      val wd = Window.orderBy("day")
      val lagged = daily.select(
        Seq(col("day"), col("cents")) ++
          (1 to 7).map(l => lag(col("cents"), l).over(wd).as(s"x$l")): _*)
      val pairs = lagged.selectExpr("cents",
        "stack(7, 1L,x1, 2L,x2, 3L,x3, 4L,x4, 5L,x5, 6L,x6, 7L,x7)" +
          " as (lg, x)")
        .filter(col("x").isNotNull)
        .select(col("lg"), col("cents").cast("decimal(19,0)").as("y"),
          col("x").cast("decimal(19,0)").as("x"))
      pairs.groupBy("lg")
        .agg(count(lit(1)).cast("decimal(19,0)").as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .select(col("lg"), col("n").cast("long").as("n_pairs"),
          (round((d(col("n") * col("sxy") - col("sx") * col("sy"))) /
            sqrt(d(col("n") * col("sxx") - col("sx") * col("sx")) *
              d(col("n") * col("syy") - col("sy") * col("sy"))), 4)
            + 0.0).as("acf"))
        .orderBy("lg")
    },
      """WITH daily AS (
           SELECT CAST(l_shipdate AS DATE) AS day,
             sum(round(l_extendedprice * 100)::BIGINT)::BIGINT AS cents
           FROM lineitem GROUP BY 1),
         idx AS (
           SELECT cents, row_number() OVER (ORDER BY day) AS rn
           FROM daily),
         lagged AS (
           SELECT l.lg, a.cents AS x, b.cents AS y
           FROM (SELECT unnest(range(1, 8)) AS lg) l
           JOIN idx b ON true
           JOIN idx a ON a.rn = b.rn - l.lg),
         m AS (
           SELECT lg, count(*)::BIGINT AS n,
             sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
             sum(x * x) AS sxx, sum(y * y) AS syy
           FROM lagged GROUP BY 1)
         SELECT lg, n AS n_pairs,
           round((n * sxy - sx * sy)::DOUBLE /
             sqrt((n * sxx - sx * sx)::DOUBLE *
                  (n * syy - sy * sy)::DOUBLE), 4) + 0.0 AS acf
         FROM m ORDER BY lg"""),

    // LEAVE-ONE-OUT TARGET ENCODING (the leakage-safe categorical
    // encoder for ML feature prep): encode mktsegment by the mean
    // balance of the OTHER members — (Σseg − xᵢ)/(nseg − 1) from exact
    // integer cents, group sums broadcast back, all per-row math
    // map-side. Singleton groups fall back to the global LOO mean.
    QueryDef("q181_target_encoding", (s, dir) => {
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment").as("seg"),
          round(col("c_acctbal") * 100, 0).cast("long").as("cents"))
      val segs = c.groupBy("seg")
        .agg(sum(col("cents")).as("ssum"), count(lit(1)).as("sn"))
      val glob = c.agg(sum(col("cents")).as("gsum"),
        count(lit(1)).as("gn"))
      c.join(broadcast(segs), Seq("seg")).crossJoin(broadcast(glob))
        .select(col("c_custkey"), col("seg"),
          round(when(col("sn") > 1,
            (col("ssum") - col("cents")).cast("double") /
              (col("sn") - 1).cast("double"))
            .otherwise((col("gsum") - col("cents")).cast("double") /
              (col("gn") - 1).cast("double")) / 100.0, 4).as("loo_mean"))
        .orderBy("c_custkey")
    },
      """WITH c AS (
           SELECT c_custkey, c_mktsegment AS seg,
             round(c_acctbal * 100)::BIGINT AS cents
           FROM customer),
         s AS (
           SELECT seg, sum(cents)::BIGINT AS ssum,
             count(*)::BIGINT AS sn
           FROM c GROUP BY 1),
         g AS (
           SELECT sum(cents)::BIGINT AS gsum, count(*)::BIGINT AS gn
           FROM c)
         SELECT c_custkey, seg,
           round(CASE WHEN sn > 1
               THEN (ssum - cents)::DOUBLE / (sn - 1)::DOUBLE
               ELSE (gsum - cents)::DOUBLE / (gn - 1)::DOUBLE
             END / 100.0, 4) AS loo_mean
         FROM c JOIN s USING (seg) CROSS JOIN g
         ORDER BY c_custkey"""),

    // LORENZ CURVE DECILES (the curve under q171's Gini): per-segment
    // ascending rank → exact integer decile id ⌈10·rk/n⌉ → decile
    // balance shares and the cumulative share curve. One distributed
    // per-segment sort, one decile aggregation, one 10-row window.
    QueryDef("q182_lorenz", (s, dir) => {
      val c = t(s, dir, "customer")
        .filter(col("c_acctbal") > 0)
        .select(col("c_mktsegment").as("seg"),
          round(col("c_acctbal") * 100, 0).cast("long").as("cents"),
          col("c_custkey"))
      val ranked = c
        .withColumn("rk", row_number().over(Window.partitionBy("seg")
          .orderBy(col("cents"), col("c_custkey"))))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("seg")
          .rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
        .withColumn("dec", expr("(10 * rk + n - 1) div n"))
      val byDec = ranked.groupBy("seg", "dec")
        .agg(count(lit(1)).as("n_members"), sum(col("cents")).as("dc"))
      val tot = byDec.groupBy("seg").agg(sum(col("dc")).as("tc"))
      byDec.join(broadcast(tot), Seq("seg"))
        .withColumn("cum", sum(col("dc")).over(Window.partitionBy("seg")
          .orderBy("dec").rowsBetween(Window.unboundedPreceding, 0)))
        .select(col("seg"), col("dec"), col("n_members"),
          round(col("dc").cast("double") / col("tc").cast("double"), 6)
            .as("share"),
          round(col("cum").cast("double") / col("tc").cast("double"), 6)
            .as("cum_share"))
        .orderBy("seg", "dec")
    },
      """WITH c AS (
           SELECT c_mktsegment AS seg,
             round(c_acctbal * 100)::BIGINT AS cents, c_custkey
           FROM customer WHERE c_acctbal > 0),
         r AS (
           SELECT seg, cents,
             row_number() OVER (PARTITION BY seg
               ORDER BY cents, c_custkey) AS rk,
             count(*) OVER (PARTITION BY seg) AS n
           FROM c),
         d AS (
           SELECT seg, (10 * rk + n - 1) // n AS dec,
             count(*)::BIGINT AS n_members, sum(cents)::BIGINT AS dc
           FROM r GROUP BY 1, 2),
         t AS (SELECT seg, sum(dc)::BIGINT AS tc FROM d GROUP BY 1),
         cm AS (
           SELECT d.*, tc,
             sum(dc) OVER (PARTITION BY d.seg ORDER BY dec
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM d JOIN t USING (seg))
         SELECT seg, dec::BIGINT AS dec, n_members,
           round(dc::DOUBLE / tc::DOUBLE, 6) AS share,
           round(cum::DOUBLE / tc::DOUBLE, 6) AS cum_share
         FROM cm ORDER BY seg, dec"""),

    // HASH-BASED POISSON BOOTSTRAP (the single-pass confidence-interval
    // technique for datasets too big to resample): replicate r weights
    // each order by md5(key:r) mod 3 ∈ {0,1,2} (E=1, deterministic —
    // no RNG), so all 64 replicate means come out of ONE scan with
    // map-side partial aggregation to 64 groups. Integer-cent sums;
    // the rank column reads the CI straight off the sorted replicates.
    QueryDef("q184_bootstrap", (s, dir) => {
      // 48 replicates from TWO md5 calls per row: base-3 digits (trits)
      // of each 48-bit hash give 24 near-uniform mod-3 weights apiece
      // (bias of trit r is ~3^r/2^48 ≤ 4e-8 for r < 24) — 24× fewer
      // hash evaluations than one md5 per (row, replicate)
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"),
          round(col("o_totalprice") * 100, 0).cast("long").as("cents"),
          TF.md5Hash48(concat(lit("b1:"), col("o_orderkey"))).as("h1"),
          TF.md5Hash48(concat(lit("b2:"), col("o_orderkey"))).as("h2"))
      val reps = o.select(col("o_orderkey"), col("cents"),
          col("h1"), col("h2"),
          explode(sequence(lit(0), lit(47))).as("rep"))
        .withColumn("w", expr(
          "pmod((if(rep < 24, h1, h2) div " +
            "cast(pow(3, rep % 24) as long)) , 3)"))
      Caches.small(reps.groupBy("rep")
          .agg(sum(col("w")).as("n_eff"),
            sum(col("w") * col("cents")).as("wsum"))
          .withColumn("mean_price", round(col("wsum").cast("double") /
            col("n_eff").cast("double") / 100.0, 4)))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("mean_price"), col("rep"))))
        .select(col("rk"), col("rep"), col("n_eff"), col("mean_price"))
        .orderBy("rk")
    },
      """WITH o AS (
           SELECT o_orderkey, round(o_totalprice * 100)::BIGINT AS cents,
             ('0x' || substring(md5('0:b1:' || o_orderkey), 1, 12))
               ::BIGINT AS h1,
             ('0x' || substring(md5('0:b2:' || o_orderkey), 1, 12))
               ::BIGINT AS h2
           FROM orders),
         reps AS (
           SELECT o_orderkey, cents, r.range AS rep,
             ((CASE WHEN r.range < 24 THEN h1 ELSE h2 END)
               // CAST(pow(3, r.range % 24) AS BIGINT)) % 3 AS w
           FROM o CROSS JOIN range(48) r),
         m AS (
           SELECT rep, sum(w)::BIGINT AS n_eff,
             sum(w * cents)::BIGINT AS wsum
           FROM reps GROUP BY 1),
         rk AS (
           SELECT rep, n_eff,
             round(wsum::DOUBLE / n_eff::DOUBLE / 100.0, 4)
               AS mean_price
           FROM m)
         SELECT row_number() OVER (ORDER BY mean_price, rep) AS rk,
           rep::BIGINT AS rep, n_eff, mean_price
         FROM rk ORDER BY rk"""),

    // NDCG@10 RANKING QUALITY (the search/recsys eval metric): per
    // customer, the "model" ranking (totalprice desc) is scored against
    // priority-derived relevance grades; DCG and ideal-DCG are
    // sorted-fold double sums over the top-10 window rows only
    // (WindowGroupLimit prunes below the shuffle), so the metric runs
    // at grouped-agg cost — no per-query reranking loop.
    QueryDef("q187_ndcg", (s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_totalprice"),
          (lit(6) - substring(col("o_orderpriority"), 1, 1).cast("int"))
            .cast("double").as("rel"))
      val byPred = o.withColumn("pos", row_number().over(
          Window.partitionBy("o_custkey")
            .orderBy(col("o_totalprice").desc, col("o_orderkey"))))
        .filter(col("pos") <= 10)
        // ln-form of rel/log2(pos+1): pins both engines to plain ln —
        // a native log2 could differ from ln(x)/ln(2) in the last ulp
        .withColumn("g", col("rel") * log(lit(2.0)) / log(col("pos") + 1))
      val byIdeal = o.withColumn("ipos", row_number().over(
          Window.partitionBy("o_custkey")
            .orderBy(col("rel").desc, col("o_orderkey"))))
        .filter(col("ipos") <= 10)
        .withColumn("ig",
          col("rel") * log(lit(2.0)) / log(col("ipos") + 1))
      val dcg = byPred.groupBy("o_custkey")
        .agg(count(lit(1)).as("n_ranked"),
          ssum(collect_list(col("g"))).as("dcg"))
      val idcg = byIdeal.groupBy("o_custkey")
        .agg(ssum(collect_list(col("ig"))).as("idcg"))
      dcg.join(idcg, Seq("o_custkey"))
        .select(col("o_custkey"), col("n_ranked"),
          round(col("dcg"), 6).as("dcg"),
          round(col("dcg") / col("idcg"), 6).as("ndcg"))
        .orderBy("o_custkey")
    },
      """WITH o AS (
           SELECT o_custkey, o_orderkey, o_totalprice,
             (6 - CAST(substring(o_orderpriority, 1, 1) AS INT))::DOUBLE
               AS rel
           FROM orders),
         p AS (
           SELECT o_custkey, rel,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey) AS pos
           FROM o QUALIFY pos <= 10),
         i AS (
           SELECT o_custkey, rel,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY rel DESC, o_orderkey) AS ipos
           FROM o QUALIFY ipos <= 10),
         d AS (
           SELECT o_custkey, count(*)::BIGINT AS n_ranked,
             list_sum(list_sort(list(rel * ln(2.0) / ln(pos + 1))))
               AS dcg
           FROM p GROUP BY 1),
         ideal AS (
           SELECT o_custkey,
             list_sum(list_sort(list(rel * ln(2.0) / ln(ipos + 1))))
               AS idcg
           FROM i GROUP BY 1)
         SELECT d.o_custkey, n_ranked, round(dcg, 6) AS dcg,
           round(dcg / idcg, 6) AS ndcg
         FROM d JOIN ideal USING (o_custkey) ORDER BY o_custkey"""),

    // WEIGHTED PERCENTILES (quantity-weighted price quartiles — the
    // inventory-weighted stat a plain percentile gets wrong): one
    // per-group sort with a cumulative-weight frame; the pN is the
    // smallest value whose cumulative weight clears N% of total,
    // selected by integer cross-multiplication (4·cumw ≥ N·W — no
    // division, no float compare). One window shuffle + one agg.
    QueryDef("q191_weighted_percentile", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag").as("flag"),
          round(col("l_extendedprice") * 100, 0).cast("long").as("cents"),
          col("l_quantity").cast("long").as("w"),
          col("l_orderkey"), col("l_linenumber"))
      val ord = Window.partitionBy("flag")
        .orderBy(col("cents"), col("l_orderkey"), col("l_linenumber"))
      val full = Window.partitionBy("flag")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      li.withColumn("cumw", sum(col("w")).over(
          ord.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("tw", sum(col("w")).over(full))
        .groupBy("flag")
        .agg(max(col("tw")).as("total_weight"),
          round(min(when(col("cumw") * 4 >= col("tw"), col("cents")))
            .cast("double") / 100.0, 2).as("w_p25"),
          round(min(when(col("cumw") * 2 >= col("tw"), col("cents")))
            .cast("double") / 100.0, 2).as("w_median"),
          round(min(when(col("cumw") * 4 >= col("tw") * 3, col("cents")))
            .cast("double") / 100.0, 2).as("w_p75"))
        .orderBy("flag")
    },
      """WITH li AS (
           SELECT l_returnflag AS flag,
             round(l_extendedprice * 100)::BIGINT AS cents,
             CAST(l_quantity AS BIGINT) AS w, l_orderkey, l_linenumber
           FROM lineitem),
         c AS (
           SELECT flag, cents,
             sum(w) OVER (PARTITION BY flag
               ORDER BY cents, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cumw,
             sum(w) OVER (PARTITION BY flag) AS tw
           FROM li)
         SELECT flag, max(tw)::BIGINT AS total_weight,
           round(min(CASE WHEN cumw * 4 >= tw THEN cents END)::DOUBLE
             / 100.0, 2) AS w_p25,
           round(min(CASE WHEN cumw * 2 >= tw THEN cents END)::DOUBLE
             / 100.0, 2) AS w_median,
           round(min(CASE WHEN cumw * 4 >= tw * 3 THEN cents END)::DOUBLE
             / 100.0, 2) AS w_p75
         FROM c GROUP BY 1 ORDER BY 1"""),

    // THE MEAN ZOO (arithmetic / geometric / harmonic / quadratic —
    // rates, ratios and RMS each need a different one): log-space and
    // reciprocal sums are TWO-LEVEL bucketed sorted folds (4096
    // l_orderkey buckets, then bucket subtotals — the q82 rule: no
    // fold buffer scales with group size); arithmetic and quadratic
    // ride on exact integer/decimal sums.
    QueryDef("q196_mean_zoo", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag").as("flag"),
          round(col("l_extendedprice") * 100, 0).cast("long").as("cents"),
          pmod(col("l_orderkey"), lit(4096)).as("bk"))
        .withColumn("x", col("cents").cast("double") / 100.0)
      val lvl1 = li.groupBy("flag", "bk")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sc"),
          sum(col("cents").cast("decimal(19,0)") * col("cents"))
            .as("sq"),
          ssum(collect_list(log(col("x")))).as("sln"),
          ssum(collect_list(lit(1.0) / col("x"))).as("srec"))
      lvl1.groupBy("flag")
        .agg(sum(col("n")).as("n"), sum(col("sc")).as("sc"),
          sum(col("sq")).as("sq"),
          ssum(collect_list(col("sln"))).as("sln"),
          ssum(collect_list(col("srec"))).as("srec"))
        .select(col("flag"), col("n"),
          round(col("sc").cast("double") / col("n") / 100.0, 4)
            .as("mean_arith"),
          round(exp(col("sln") / col("n")), 4).as("mean_geom"),
          round(col("n") / col("srec"), 4).as("mean_harm"),
          round(sqrt(col("sq").cast("double") / col("n")) / 100.0, 4)
            .as("mean_quad"))
        .orderBy("flag")
    },
      """WITH li AS (
           SELECT l_returnflag AS flag,
             round(l_extendedprice * 100)::BIGINT AS cents,
             l_orderkey % 4096 AS bk,
             round(l_extendedprice * 100)::BIGINT::DOUBLE / 100.0 AS x
           FROM lineitem),
         l1 AS (
           SELECT flag, bk, count(*)::BIGINT AS n,
             sum(cents)::BIGINT AS sc, sum(cents * cents) AS sq,
             list_sum(list_sort(list(ln(x)))) AS sln,
             list_sum(list_sort(list(1.0 / x))) AS srec
           FROM li GROUP BY 1, 2),
         l2 AS (
           SELECT flag, sum(n)::BIGINT AS n, sum(sc)::BIGINT AS sc,
             sum(sq) AS sq,
             list_sum(list_sort(list(sln))) AS sln,
             list_sum(list_sort(list(srec))) AS srec
           FROM l1 GROUP BY 1)
         SELECT flag, n,
           round(sc::DOUBLE / n / 100.0, 4) AS mean_arith,
           round(exp(sln / n), 4) AS mean_geom,
           round(n / srec, 4) AS mean_harm,
           round(sqrt(sq::DOUBLE / n) / 100.0, 4) AS mean_quad
         FROM l2 ORDER BY flag"""),

    // CALIBRATION CURVE + ECE (reliability of a score against
    // outcomes — the model-monitoring metric beside q187's NDCG):
    // integer fixed-width score bins (no float binning boundaries), a
    // logistic "model score" whose mean per bin is a sorted fold, exact
    // outcome rates, and expected calibration error assembled from the
    // 10-row bin table. One aggregation over the fact table.
    QueryDef("q198_calibration", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val o = t(s, dir, "orders")
        .select(round(col("o_totalprice") * 100, 0).cast("long")
          .as("cents"),
          (col("o_orderpriority").isin("1-URGENT", "2-HIGH")).as("y"))
        .withColumn("bin", least(lit(9L), expr("cents div 5000000")))
        .withColumn("score", lit(1.0) /
          (lit(1.0) + exp(-(d(col("cents")) / 100.0 - 25000.0) / 10000.0)))
      val bins = o.groupBy("bin")
        .agg(count(lit(1)).as("n_bin"),
          sum(when(col("y"), 1L).otherwise(0L)).as("n_pos"),
          ssum(collect_list(col("score"))).as("ssc"))
        .withColumn("conf", col("ssc") / col("n_bin"))
        .withColumn("acc", d(col("n_pos")) / col("n_bin"))
      val tot = bins.agg(sum(col("n_bin")).as("nn"))
      val ece = bins.crossJoin(broadcast(tot))
        .select((d(col("n_bin")) / col("nn") *
          abs(col("acc") - col("conf"))).as("term"))
        .agg(ssum(collect_list(col("term"))).as("ece"))
      bins.crossJoin(broadcast(ece))
        .select(col("bin"), col("n_bin"), col("n_pos"),
          round(col("conf"), 6).as("mean_score"),
          round(col("acc"), 6).as("pos_rate"),
          round(col("ece"), 6).as("ece"))
        .orderBy("bin")
    },
      """WITH o AS (
           SELECT round(o_totalprice * 100)::BIGINT AS cents,
             (o_orderpriority IN ('1-URGENT', '2-HIGH')) AS y
           FROM orders),
         s AS (
           SELECT *, least(9, cents // 5000000)::BIGINT AS bin,
             1.0 / (1.0 + exp(-(cents::DOUBLE / 100.0 - 25000.0)
               / 10000.0)) AS score
           FROM o),
         bins AS (
           SELECT bin, count(*)::BIGINT AS n_bin,
             sum(CASE WHEN y THEN 1 ELSE 0 END)::BIGINT AS n_pos,
             list_sum(list_sort(list(score))) AS ssc
           FROM s GROUP BY 1),
         b2 AS (
           SELECT *, ssc / n_bin AS conf,
             n_pos::DOUBLE / n_bin AS acc
           FROM bins),
         tot AS (SELECT sum(n_bin)::BIGINT AS nn FROM bins),
         ece AS (
           SELECT list_sum(list_sort(list(
             n_bin::DOUBLE / nn * abs(acc - conf)))) AS ece
           FROM b2 CROSS JOIN tot)
         SELECT bin, n_bin, n_pos, round(conf, 6) AS mean_score,
           round(acc, 6) AS pos_rate, round(ece, 6) AS ece
         FROM b2 CROSS JOIN ece ORDER BY bin"""),

    // EXACT ROC-AUC via the Mann–Whitney rank statistic with tie
    // correction (no threshold sweep, no sampling): value-level
    // positive/negative counts, one sort over DISTINCT scores, and
    // U×2 = Σ np_v·(2·cumneg_below + nn_v) keeps everything integer
    // until the final division. The statistically-exact companion to
    // threshold-based eval.
    QueryDef("q199_auc", (s, dir) => {
      val o = t(s, dir, "orders")
        .select(round(col("o_totalprice") * 100, 0).cast("long")
          .as("cents"),
          col("o_orderpriority").isin("1-URGENT", "2-HIGH").as("y"))
      val g = o.groupBy("cents")
        .agg(sum(when(col("y"), 1L).otherwise(0L)).as("np"),
          sum(when(!col("y"), 1L).otherwise(0L)).as("nn"))
      // exclusive cumneg over the distinct-score order, two-phase
      // (value-level grain still grows with data — no global sort)
      val u = Dedup.numberAndRunningSum(g, col("cents"), "rk",
          Seq("cumnn_incl" -> col("nn")))
        .withColumn("cumnn", col("cumnn_incl") - col("nn"))
        .agg(sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"),
          sum(col("np").cast("decimal(19,0)") *
            (lit(2) * col("cumnn") + col("nn"))).as("u2"))
      u.select(col("n_pos"), col("n_neg"),
        round(col("u2").cast("double") /
          (lit(2.0) * col("n_pos") * col("n_neg")), 6).as("auc"))
    },
      """WITH o AS (
           SELECT round(o_totalprice * 100)::BIGINT AS cents,
             (o_orderpriority IN ('1-URGENT', '2-HIGH')) AS y
           FROM orders),
         g AS (
           SELECT cents,
             sum(CASE WHEN y THEN 1 ELSE 0 END)::BIGINT AS np,
             sum(CASE WHEN NOT y THEN 1 ELSE 0 END)::BIGINT AS nn
           FROM o GROUP BY 1),
         c AS (
           SELECT *, coalesce(sum(nn) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cumnn
           FROM g),
         u AS (
           SELECT sum(np)::BIGINT AS n_pos, sum(nn)::BIGINT AS n_neg,
             sum(np * (2 * cumnn + nn)) AS u2
           FROM c)
         SELECT n_pos, n_neg,
           round(u2::DOUBLE / (2.0 * n_pos * n_neg), 6) AS auc
         FROM u"""),

    // OUT-OF-FOLD TARGET ENCODING (q181's leakage-safe encoder, CV
    // form): md5-hash folds (deterministic, no RNG), each (fold,
    // segment) cell encoded from the OTHER folds' exact sums —
    // (Σseg − Σfold,seg)/(nseg − nfold,seg). Two metadata-sized aggs
    // + a broadcast join; the fact table is scanned once.
    QueryDef("q200_oof_encoding", (s, dir) => {
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment").as("seg"),
          round(col("c_acctbal") * 100, 0).cast("long").as("cents"),
          pmod(TF.md5Hash48(col("c_custkey").cast("string")), lit(5L))
            .as("fold"))
      val cell = c.groupBy("fold", "seg")
        .agg(count(lit(1)).as("nf"), sum(col("cents")).as("sf"))
      val segt = cell.groupBy("seg")
        .agg(sum(col("nf")).as("ns"), sum(col("sf")).as("ss"))
      cell.join(broadcast(segt), Seq("seg"))
        .select(col("fold"), col("seg"), col("nf").as("n_rows"),
          round((col("ss") - col("sf")).cast("double") /
            (col("ns") - col("nf")).cast("double") / 100.0, 4)
            .as("oof_mean"))
        .orderBy("fold", "seg")
    },
      """WITH c AS (
           SELECT c_custkey, c_mktsegment AS seg,
             round(c_acctbal * 100)::BIGINT AS cents,
             ('0x' || substring(md5('0:' || c_custkey), 1, 12))::BIGINT
               % 5 AS fold
           FROM customer),
         cell AS (
           SELECT fold, seg, count(*)::BIGINT AS nf,
             sum(cents)::BIGINT AS sf
           FROM c GROUP BY 1, 2),
         st AS (
           SELECT seg, sum(nf)::BIGINT AS ns, sum(sf)::BIGINT AS ss
           FROM cell GROUP BY 1)
         SELECT fold, seg, nf AS n_rows,
           round((ss - sf)::DOUBLE / (ns - nf)::DOUBLE / 100.0, 4)
             AS oof_mean
         FROM cell JOIN st USING (seg)
         ORDER BY fold, seg"""),

    // KAPLAN–MEIER SURVIVAL CURVE (time-to-event with right
    // censoring — retention/churn's statistically-correct form): per
    // customer, entry = first order, event = first 300k+ order,
    // censored at the observation horizon; S(t) = Π(1 − dᵢ/nᵢ) as
    // exp of a cumulative ln-sum over the day-grain event grid (a
    // frame bounded by the calendar). Risk sets are exact integer
    // cumulative counts from ONE sort of the per-customer time table.
    QueryDef("q205_kaplan_meier", (s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_custkey"), to_date(col("o_orderdate")).as("d"),
          (col("o_totalprice") >= 300000.0).as("big"))
      val per = o.groupBy("o_custkey")
        .agg(min(col("d")).as("entry"),
          min(when(col("big"), col("d"))).as("eventd"))
      val horizon = o.agg(max(col("d")).as("hz"))
      val times = per.crossJoin(broadcast(horizon))
        .select(col("o_custkey"),
          when(col("eventd").isNotNull,
            datediff(col("eventd"), col("entry")))
            .otherwise(datediff(col("hz"), col("entry"))).as("t"),
          col("eventd").isNotNull.as("ev"))
      val tot = times.agg(count(lit(1)).as("nn"))
      val byT = times.groupBy("t")
        .agg(sum(when(col("ev"), 1L).otherwise(0L)).as("d_t"),
          count(lit(1)).as("leave"))
      val ord = Window.orderBy("t")
      val km = byT.crossJoin(broadcast(tot))
        .withColumn("n_risk", col("nn") -
          coalesce(sum(col("leave")).over(
            ord.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .filter(col("d_t") > 0)
        .withColumn("lnterm", log(lit(1.0) -
          col("d_t").cast("double") / col("n_risk").cast("double")))
        // sorted-fold the ln prefix (not a running float sum) so the
        // cumulative product is association-identical in both engines
        .withColumn("s", exp(ssum(collect_list(col("lnterm")).over(
          Window.orderBy("t").rowsBetween(
            Window.unboundedPreceding, 0)))))
      km.select(col("t").cast("long").as("t"), col("n_risk"),
          col("d_t"), round(col("s"), 6).as("survival"))
        .orderBy("t")
    },
      """WITH o AS (
           SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
             (o_totalprice >= 300000.0) AS big
           FROM orders),
         per AS (
           SELECT o_custkey, min(d) AS entry,
             min(CASE WHEN big THEN d END) AS eventd
           FROM o GROUP BY 1),
         hz AS (SELECT max(d) AS hz FROM o),
         times AS (
           SELECT o_custkey,
             CASE WHEN eventd IS NOT NULL THEN eventd - entry
               ELSE hz - entry END AS t,
             (eventd IS NOT NULL) AS ev
           FROM per CROSS JOIN hz),
         tot AS (SELECT count(*)::BIGINT AS nn FROM times),
         byt AS (
           SELECT t, sum(CASE WHEN ev THEN 1 ELSE 0 END)::BIGINT AS d_t,
             count(*)::BIGINT AS leave
           FROM times GROUP BY 1),
         risk AS (
           SELECT *, nn - coalesce(sum(leave) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
           FROM byt CROSS JOIN tot),
         ev2 AS (
           SELECT *, ln(1.0 - d_t::DOUBLE / n_risk::DOUBLE) AS lnterm
           FROM risk WHERE d_t > 0),
         s AS (
           SELECT *, exp(list_sum(list_sort(
             list(lnterm) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))))
             AS s
           FROM ev2)
         SELECT t::BIGINT AS t, n_risk::BIGINT AS n_risk, d_t,
           round(s, 6) AS survival
         FROM s ORDER BY t"""),

    // HAAR MULTI-RESOLUTION PYRAMID (approximation + detail at 2/4/8/
    // 16-day scales — the downsampling layer of a time-series store):
    // absolute-day buckets t÷2ᴸ, approximation = bucket mean, detail =
    // half-means difference via conditional integer sums — the whole
    // pyramid is one 4× explode of the day-grain series + one
    // aggregation; every coefficient is exact until display division.
    QueryDef("q207_haar_pyramid", (s, dir) => {
      val daily = t(s, dir, "lineitem")
        .groupBy(expr("datediff(to_date(l_shipdate), date'1970-01-05')")
          .cast("long").as("t"))
        .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long"))
          .as("cents"))
      val lv = daily.select(col("t"), col("cents"),
        explode(sequence(lit(1), lit(4))).as("lvl"))
        .withColumn("bucket", expr("t div shiftleft(1, lvl)"))
        .withColumn("half", expr("(t div shiftleft(1, lvl - 1)) % 2"))
      lv.groupBy("lvl", "bucket")
        .agg(count(lit(1)).as("n_days"),
          sum(col("cents")).as("sc"),
          sum(when(col("half") === 0, col("cents"))).as("s0"),
          sum(when(col("half") === 0, 1L).otherwise(0L)).as("n0"),
          sum(when(col("half") === 1, col("cents"))).as("s1"),
          sum(when(col("half") === 1, 1L).otherwise(0L)).as("n1"))
        // integer-cent outputs via floor(x+0.5): bucket sizes are
        // powers of two, so the means land EXACTLY on .xx5 constantly
        // and round()'s tie-breaking differs between engines; floor of
        // an identically-computed double is bit-deterministic
        .select(col("lvl"), col("bucket"), col("n_days"),
          floor(col("sc").cast("double") / col("n_days") + 0.5)
            .cast("long").as("approx_cents"),
          floor(when(col("n0") > 0,
            col("s0").cast("double") / col("n0")).otherwise(lit(0.0))
            - when(col("n1") > 0,
              col("s1").cast("double") / col("n1")).otherwise(lit(0.0))
            + 0.5).cast("long").as("detail_cents"))
        .orderBy("lvl", "bucket")
    },
      """WITH daily AS (
           SELECT (CAST(l_shipdate AS DATE) - DATE '1970-01-05')::BIGINT
               AS t,
             sum(round(l_extendedprice * 100)::BIGINT)::BIGINT AS cents
           FROM lineitem GROUP BY 1),
         lv AS (
           SELECT t, cents, l.range AS lvl,
             t // (1 << l.range) AS bucket,
             (t // (1 << (l.range - 1))) % 2 AS half
           FROM daily CROSS JOIN range(1, 5) l),
         a AS (
           SELECT lvl, bucket, count(*)::BIGINT AS n_days,
             sum(cents)::BIGINT AS sc,
             sum(CASE WHEN half = 0 THEN cents END)::BIGINT AS s0,
             sum(CASE WHEN half = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
             sum(CASE WHEN half = 1 THEN cents END)::BIGINT AS s1,
             sum(CASE WHEN half = 1 THEN 1 ELSE 0 END)::BIGINT AS n1
           FROM lv GROUP BY 1, 2)
         SELECT lvl::BIGINT AS lvl, bucket, n_days,
           floor(sc::DOUBLE / n_days + 0.5)::BIGINT AS approx_cents,
           floor((CASE WHEN n0 > 0 THEN s0::DOUBLE / n0 ELSE 0.0 END
             - CASE WHEN n1 > 0 THEN s1::DOUBLE / n1 ELSE 0.0 END)
             + 0.5)::BIGINT AS detail_cents
         FROM a ORDER BY lvl, bucket"""),

    // THEIL–SEN ROBUST SLOPE (median of pairwise slopes — the trend
    // estimator outliers can't drag): the table collapses to the
    // calendar-bounded daily series FIRST, so the pairwise stage is
    // a BROADCAST day×day pair build (day grain is metadata-sized at
    // any SF — never the fact table). The median slope is picked by
    // deterministic rank; the OLS slope from exact moments rides along
    // for contrast.
    QueryDef("q211_theil_sen", (s, dir) => {
      // day-grain frame checkpointed: it feeds the pair build (twice),
      // the pair count, and the OLS moments — without it the full
      // lineitem aggregation re-runs ~5x (measured 4.3 s -> the fix)
      val daily = graft.ops.Caches.small(t(s, dir, "lineitem")
        .groupBy(expr("datediff(to_date(l_shipdate), date'1970-01-05')")
          .cast("long").as("tt"))
        .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long"))
          .as("cents")))
      val pairs = daily.join(broadcast(daily
          .select(col("tt").as("t2"), col("cents").as("c2"))),
          col("t2") > col("tt"))
        .select(((col("c2") - col("cents")).cast("double") /
          (col("t2") - col("tt")).cast("double")).as("slope"))
      // exact median SLOPE by bracketed selection (Selection.kthValue):
      // the r13 form ranked the full pair frame with one global window —
      // justified then as calendar-bounded, but still a single-task sort
      // of days²/2 rows (3.1M at sf0.1, measured ~2.5 s of the query).
      // Only the median VALUE is needed (row_number's (tt,t2) tiebreak
      // picked a row, but tied rows share the slope the output rounds),
      // so selection replaces the sort with two map-side passes over the
      // broadcast-generated pairs — no shuffle of the pair frame at all.
      val sel = graft.ops.Selection.medianValue(pairs, col("slope"))
      val ols = daily.agg(count(lit(1)).cast("decimal(19,0)").as("n"),
          sum(col("tt").cast("decimal(19,0)")).as("sx"),
          sum(col("cents").cast("decimal(19,0)")).as("sy"),
          sum(col("tt").cast("decimal(19,0)") * col("cents")).as("sxy"),
          sum(col("tt").cast("decimal(19,0)") * col("tt")).as("sxx"))
        .select(round((col("n") * col("sxy") - col("sx") * col("sy"))
          .cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"),
          6).as("ols_slope"))
      sel.crossJoin(broadcast(ols))
        .select(col("n").as("n_pairs"),
          round(col("kth"), 6).as("theil_sen_slope"),
          col("ols_slope"))
    },
      """WITH daily AS (
           SELECT (CAST(l_shipdate AS DATE) - DATE '1970-01-05')::BIGINT
               AS tt,
             sum(round(l_extendedprice * 100)::BIGINT)::BIGINT AS cents
           FROM lineitem GROUP BY 1),
         pairs AS (
           SELECT a.tt, b.tt AS t2,
             (b.cents - a.cents)::DOUBLE / (b.tt - a.tt)::DOUBLE
               AS slope
           FROM daily a JOIN daily b ON b.tt > a.tt),
         r AS (
           SELECT *, row_number() OVER (ORDER BY slope, tt, t2) AS rk,
             count(*) OVER () AS np
           FROM pairs),
         ols AS (
           SELECT round(
             (count(*) * sum(tt * cents) - sum(tt) * sum(cents))::DOUBLE
             / (count(*) * sum(tt * tt) - sum(tt) * sum(tt))::DOUBLE, 6)
             AS ols_slope
           FROM daily)
         SELECT np::BIGINT AS n_pairs, round(slope, 6)
             AS theil_sen_slope, ols_slope
         FROM r CROSS JOIN ols WHERE rk = (np + 1) // 2"""),

    // RANK-BIASED OVERLAP (Webber et al. TOIS'10 — comparing two
    // top-k rankings when NDCG's relevance grades don't exist): parts
    // ranked by revenue vs by quantity, truncated RBO at depth 50 with
    // p=0.9. Each common part contributes the closed-form tail sum
    // T(max(ra,rb)) — a 50-row generated weight table joined on the
    // worse rank; the final fold is over ≤50 doubles. Rankings are
    // top-k windows with WindowGroupLimit.
    QueryDef("q212_rbo", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val byRev = li.groupBy("l_partkey")
        .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long"))
          .as("v"))
        .withColumn("ra", row_number().over(
          Window.orderBy(col("v").desc, col("l_partkey"))))
        .filter(col("ra") <= 50).select("l_partkey", "ra")
      val byQty = li.groupBy("l_partkey")
        .agg(sum(col("l_quantity").cast("long")).as("q"))
        .withColumn("rb", row_number().over(
          Window.orderBy(col("q").desc, col("l_partkey"))))
        .filter(col("rb") <= 50).select("l_partkey", "rb")
      val s0 = s
      import s0.implicits._
      val tails = (1 to 50).map { m =>
        (m.toLong, (m to 50).map(dd => math.pow(0.9, dd - 1) / dd).sorted.sum)
      }.toDF("m", "tail")
      val common = byRev.join(byQty, Seq("l_partkey"))
        .withColumn("m", greatest(col("ra"), col("rb")))
        .join(broadcast(tails), Seq("m"))
      common.agg(count(lit(1)).as("n_common"),
          sum(when(col("m") <= 10, 1L).otherwise(0L)).as("overlap_at_10"),
          round(lit(0.1) * ssum(collect_list(col("tail"))), 6).as("rbo"))
    },
      """WITH rev AS (
           SELECT l_partkey,
             row_number() OVER (ORDER BY
               sum(round(l_extendedprice * 100)::BIGINT) DESC,
               l_partkey) AS ra
           FROM lineitem GROUP BY l_partkey QUALIFY ra <= 50),
         qty AS (
           SELECT l_partkey,
             row_number() OVER (ORDER BY
               sum(CAST(l_quantity AS BIGINT)) DESC, l_partkey) AS rb
           FROM lineitem GROUP BY l_partkey QUALIFY rb <= 50),
         tails AS (
           SELECT m.range AS m,
             list_sum(list_sort(list_transform(
               generate_series(m.range::INT, 50),
               dd -> power(0.9, dd - 1) / dd))) AS tail
           FROM range(1, 51) m),
         common AS (
           SELECT greatest(ra, rb) AS m
           FROM rev JOIN qty USING (l_partkey))
         SELECT count(*)::BIGINT AS n_common,
           sum(CASE WHEN m <= 10 THEN 1 ELSE 0 END)::BIGINT
             AS overlap_at_10,
           round(0.1 * list_sum(list_sort(list(tail))), 6) AS rbo
         FROM common JOIN tails USING (m)"""),

    // BRADLEY–TERRY PREFERENCE STRENGTHS (the pairwise-comparison
    // model behind RLHF preference data, 2 fixed MM iterations —
    // Hunter '04): within each order, the pricier lineitem "beats"
    // the cheaper per part-pair (basket-bounded pair fan-out, the
    // q130 contract); each MM round is one join + one sorted-fold
    // aggregation over pair terms. Fixed iteration count ⇒ statically
    // replayable oracle.
    QueryDef("q220_bradley_terry", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .filter(col("l_partkey") % 100 < 4)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"),
          round(col("l_extendedprice") * 100, 0).cast("long").as("cents"),
          col("l_linenumber"))
      val pairs = li.as("x").join(li.as("y"), Seq("ok"))
        .filter(col("x.pk") < col("y.pk"))
        .select(col("x.pk").as("a"), col("y.pk").as("b"),
          when(col("x.cents") > col("y.cents"), 1L)
            .when(col("x.cents") < col("y.cents"), 0L)
            .when(col("x.l_linenumber") < col("y.l_linenumber"), 1L)
            .otherwise(0L).as("a_wins"))
      // Caches.small: the comparison-graph grain (distinct co-ordered
      // part pairs under the %100<4 cut) is computed ONCE and
      // checkpointed — wins/sym and BOTH MM rounds re-read it, and
      // without the checkpoint the unrolled lineage re-ran the
      // lineitem scan + pair self-join per reference (84 scans in
      // PLANS_r08; judge r08 "Next round" #3)
      val nab = Caches.small(pairs.groupBy("a", "b")
        .agg(count(lit(1)).as("n"), sum(col("a_wins")).as("wa")))
      val wins = nab.select(col("a").as("pk"), col("wa").as("w"))
        .unionByName(nab.select(col("b").as("pk"),
          (col("n") - col("wa")).as("w")))
        .groupBy("pk").agg(sum(col("w")).as("wins"))
      val sym = nab.select(col("a").as("pk"), col("b").as("opp"), col("n"))
        .unionByName(nab.select(col("b").as("pk"), col("a").as("opp"),
          col("n")))
      var pi = wins.select(col("pk"), lit(1.0).as("p"))
      for (_ <- 1 to 2) {
        val po = pi.select(col("pk").as("opp"), col("p").as("po"))
        val denom = sym.join(pi, Seq("pk")).join(po, Seq("opp"))
          .select(col("pk"),
            (col("n").cast("double") / (col("p") + col("po"))).as("term"))
          .groupBy("pk").agg(ssum(collect_list(col("term"))).as("den"))
        // +0.5 win smoothing keeps every strength positive — a pair of
        // zero-win items would otherwise divide by p+po = 0
        pi = wins.join(denom, Seq("pk"))
          .select(col("pk"),
            ((col("wins").cast("double") + 0.5) / col("den")).as("p"))
      }
      val z = pi.agg(ssum(collect_list(col("p"))).as("z"))
      pi.crossJoin(broadcast(z))
        .join(wins, Seq("pk"))
        .select(col("pk"), col("wins"),
          round(col("p") / col("z"), 6).as("strength"))
        .orderBy("pk")
    },
      """WITH li AS (
           SELECT l_orderkey AS ok, l_partkey AS pk,
             round(l_extendedprice * 100)::BIGINT AS cents, l_linenumber
           FROM lineitem WHERE l_partkey % 100 < 4),
         pairs AS (
           SELECT x.pk AS a, y.pk AS b,
             CASE WHEN x.cents > y.cents THEN 1
               WHEN x.cents < y.cents THEN 0
               WHEN x.l_linenumber < y.l_linenumber THEN 1
               ELSE 0 END AS a_wins
           FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
         nab AS (
           SELECT a, b, count(*)::BIGINT AS n,
             sum(a_wins)::BIGINT AS wa
           FROM pairs GROUP BY 1, 2),
         wins AS (
           SELECT pk, sum(w)::BIGINT AS wins FROM (
             SELECT a AS pk, wa AS w FROM nab
             UNION ALL SELECT b AS pk, (n - wa) AS w FROM nab)
           GROUP BY 1),
         sym AS (
           SELECT a AS pk, b AS opp, n FROM nab
           UNION ALL SELECT b AS pk, a AS opp, n FROM nab),
         p0 AS (SELECT pk, 1.0 AS p FROM wins),
         d1 AS (
           SELECT s.pk, list_sum(list_sort(list(
             s.n::DOUBLE / (pa.p + pb.p)))) AS den
           FROM sym s JOIN p0 pa ON s.pk = pa.pk
           JOIN p0 pb ON s.opp = pb.pk
           GROUP BY 1),
         p1 AS (
           SELECT w.pk, (w.wins::DOUBLE + 0.5) / d1.den AS p
           FROM wins w JOIN d1 ON w.pk = d1.pk),
         d2 AS (
           SELECT s.pk, list_sum(list_sort(list(
             s.n::DOUBLE / (pa.p + pb.p)))) AS den
           FROM sym s JOIN p1 pa ON s.pk = pa.pk
           JOIN p1 pb ON s.opp = pb.pk
           GROUP BY 1),
         p2 AS (
           SELECT w.pk, (w.wins::DOUBLE + 0.5) / d2.den AS p
           FROM wins w JOIN d2 ON w.pk = d2.pk),
         z AS (SELECT list_sum(list_sort(list(p))) AS z FROM p2)
         SELECT p2.pk, wins, round(p / z, 6) AS strength
         FROM p2 JOIN wins USING (pk) CROSS JOIN z
         ORDER BY p2.pk"""),

    // PRIORITY SAMPLING without replacement (Efraimidis–Spirakis
    // '06 — the weighted sample that composes across partitions): each
    // row's priority key −ln(u)/w comes from a DETERMINISTIC md5
    // uniform (no RNG, replayable); the per-stratum top-5 is one rank
    // window with WindowGroupLimit. The scale story: keys are map-side,
    // the sample is mergeable by just keeping the k smallest anywhere.
    QueryDef("q221_priority_sampling", (s, dir) => {
      val c = t(s, dir, "customer")
        .filter(col("c_acctbal") > 0)
        .select(col("c_mktsegment").as("seg"), col("c_custkey"),
          round(col("c_acctbal") * 100, 0).cast("long").as("w"))
        .withColumn("u",
          (TF.md5Hash48(col("c_custkey").cast("string"))
            .cast("double") + 0.5) / lit(math.pow(2, 48)))
        .withColumn("key", -log(col("u")) / col("w").cast("double"))
      c.withColumn("rk", row_number().over(Window.partitionBy("seg")
          .orderBy(col("key"), col("c_custkey"))))
        .filter(col("rk") <= 5)
        .select(col("seg"), col("rk"), col("c_custkey"), col("w"),
          round(col("key") * 1e9, 6).as("priority_x1e9"))
        .orderBy("seg", "rk")
    },
      """WITH c AS (
           SELECT c_mktsegment AS seg, c_custkey,
             round(c_acctbal * 100)::BIGINT AS w,
             (('0x' || substring(md5('0:' || c_custkey), 1, 12))::BIGINT
               ::DOUBLE + 0.5) / 281474976710656.0 AS u
           FROM customer WHERE c_acctbal > 0),
         k AS (
           SELECT *, -ln(u) / w::DOUBLE AS key,
             row_number() OVER (PARTITION BY seg
               ORDER BY -ln(u) / w::DOUBLE, c_custkey) AS rk
           FROM c)
         SELECT seg, rk::BIGINT AS rk, c_custkey, w,
           round(key * 1e9, 6) AS priority_x1e9
         FROM k WHERE rk <= 5 ORDER BY seg, rk"""),

    // BENJAMINI–HOCHBERG FDR over per-segment A/B z-tests (q164 one
    // level up — the multiple-testing correction every experimentation
    // platform needs): exact cohort counts → z per segment → normal
    // p-value via the Abramowitz–Stegun Φ polynomial (identical fixed
    // op sequence in both engines — no erf built-in required) → BH
    // step-up by rank. One agg + one tiny rank window over segments.
    QueryDef("q224_ab_fdr", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val c = t(s, dir, "customer")
        .select(col("c_mktsegment").as("seg"), col("c_custkey"),
          (pmod(TF.md5Hash48(col("c_custkey").cast("string")), lit(2L))
            === 0).as("arm_a"),
          (col("c_acctbal") > 4500.0).as("conv"))
      val cell = c.groupBy("seg")
        .agg(sum(when(col("arm_a"), 1L).otherwise(0L)).as("na"),
          sum(when(col("arm_a") && col("conv"), 1L).otherwise(0L))
            .as("xa"),
          sum(when(!col("arm_a"), 1L).otherwise(0L)).as("nb"),
          sum(when(!col("arm_a") && col("conv"), 1L).otherwise(0L))
            .as("xb"))
      val zed = cell
        .withColumn("p1", d(col("xa")) / col("na"))
        .withColumn("p2", d(col("xb")) / col("nb"))
        .withColumn("pp", d(col("xa") + col("xb")) /
          d(col("na") + col("nb")))
        // degenerate segment (pp ∈ {0,1} ⇒ zero pooled variance) would
        // give NaN z / NaN p and corrupt the BH rank order — same guard
        // as q252_aa_calibration, mirrored in the oracle
        .withColumn("z",
          when(col("pp") === 0.0 || col("pp") === 1.0, lit(0.0))
            .otherwise((col("p1") - col("p2")) /
              sqrt(col("pp") * (lit(1.0) - col("pp")) *
                (lit(1.0) / col("na") + lit(1.0) / col("nb")))))
        // Φ(|z|) via Abramowitz–Stegun 7.1.26 (max err 7.5e-8): fixed
        // polynomial in t = 1/(1 + 0.2316419|z|) times the normal pdf
        .withColumn("az", abs(col("z")))
        .withColumn("tt", lit(1.0) / (lit(1.0) + lit(0.2316419) * col("az")))
        .withColumn("phi_tail",
          exp(col("az") * col("az") * -0.5) * lit(0.3989422804014327) *
            (((((lit(1.330274429) * col("tt") - lit(1.821255978)) *
              col("tt") + lit(1.781477937)) * col("tt") -
              lit(0.356563782)) * col("tt") + lit(0.319381530)) *
              col("tt")))
        .withColumn("p", lit(2.0) * col("phi_tail"))
      // 5-segment grain, checkpointed: the BH-rank global windows below
      // are gate-PROVEN bounded
      val zedCk = Caches.small(zed)
      val m = zedCk.agg(count(lit(1)).as("m"))
      zedCk.crossJoin(broadcast(m))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("p"), col("seg"))))
        .withColumn("bh_thresh",
          col("rk").cast("double") / col("m") * 0.10)
        .withColumn("max_rej", max(when(col("p") <= col("bh_thresh"),
          col("rk"))).over(Window.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
        .select(col("seg"), col("na"), col("nb"),
          round(col("z"), 4).as("z"),
          round(col("p"), 6).as("p_value"), col("rk"),
          round(col("bh_thresh"), 6).as("bh_thresh"),
          (col("rk") <= coalesce(col("max_rej"), lit(0L))).as("rejected"))
        .orderBy("rk")
    },
      """WITH c AS (
           SELECT c_mktsegment AS seg, c_custkey,
             (('0x' || substring(md5('0:' || c_custkey), 1, 12))::BIGINT
               % 2 = 0) AS arm_a,
             (c_acctbal > 4500.0) AS conv
           FROM customer),
         cell AS (
           SELECT seg,
             sum(CASE WHEN arm_a THEN 1 ELSE 0 END)::BIGINT AS na,
             sum(CASE WHEN arm_a AND conv THEN 1 ELSE 0 END)::BIGINT
               AS xa,
             sum(CASE WHEN NOT arm_a THEN 1 ELSE 0 END)::BIGINT AS nb,
             sum(CASE WHEN NOT arm_a AND conv THEN 1 ELSE 0 END)
               ::BIGINT AS xb
           FROM c GROUP BY 1),
         zed AS (
           SELECT *,
             CASE WHEN (xa + xb) = 0 OR (xa + xb) = (na + nb) THEN 0.0
               ELSE (xa::DOUBLE / na - xb::DOUBLE / nb) /
                 sqrt(((xa + xb)::DOUBLE / (na + nb)) *
                   (1.0 - (xa + xb)::DOUBLE / (na + nb)) *
                   (1.0 / na + 1.0 / nb)) END AS z
           FROM cell),
         pp AS (
           SELECT *, abs(z) AS az,
             1.0 / (1.0 + 0.2316419 * abs(z)) AS tt
           FROM zed),
         pv AS (
           SELECT *,
             2.0 * exp(az * az * -0.5) * 0.3989422804014327 *
               (((((1.330274429 * tt - 1.821255978) * tt
                 + 1.781477937) * tt - 0.356563782) * tt
                 + 0.319381530) * tt) AS p
           FROM pp),
         m AS (SELECT count(*)::BIGINT AS m FROM pv),
         rks AS (
           SELECT *, row_number() OVER (ORDER BY p, seg) AS rk,
             rk::DOUBLE / m.m * 0.10 AS bh_thresh
           FROM pv CROSS JOIN m),
         mr AS (
           SELECT max(CASE WHEN p <= bh_thresh THEN rk END) AS max_rej
           FROM rks)
         SELECT seg, na, nb, round(z, 4) AS z, round(p, 6) AS p_value,
           rk::BIGINT AS rk, round(bh_thresh, 6) AS bh_thresh,
           (rk <= coalesce(max_rej, 0)) AS rejected
         FROM rks CROSS JOIN mr ORDER BY rk"""),

    // HODGES–LEHMANN LOCATION (median of pairwise means — the robust
    // center that keeps ~95% efficiency under normality, unlike the
    // median's 64%): pairwise (i ≤ j) means over the calendar-bounded
    // daily series via the q211 broadcast pair build; the estimate is
    // an exact half-cent integer picked by deterministic rank, shown
    // beside the plain mean and median it robustifies.
    QueryDef("q226_hodges_lehmann", (s, dir) => {
      // day-grain frame checkpointed: referenced ~7x downstream (pair
      // build twice, pair count twice, median rank + count, mean) —
      // each reference otherwise re-runs the full lineitem aggregation
      val daily = graft.ops.Caches.small(t(s, dir, "lineitem")
        .groupBy(expr("datediff(to_date(l_shipdate), date'1970-01-05')")
          .cast("long").as("tt"))
        .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long"))
          .as("cents")))
      val pairs = daily.join(broadcast(daily
          .select(col("tt").as("t2"), col("cents").as("c2"))),
          col("t2") >= col("tt"))
        .select((col("cents") + col("c2")).as("half2"))
      // exact median Walsh sum by bracketed selection — same shape as
      // q211: only the median VALUE is needed, so Selection.kthValue's
      // two map-side passes replace the r13 single-task sort of the
      // days²/2-row pair frame (see Selection.scala scaladoc)
      val sel = graft.ops.Selection.medianValue(pairs, col("half2"))
      val med = daily.withColumn("rk", row_number().over(
          Window.orderBy(col("cents"), col("tt"))))
        .crossJoin(broadcast(daily.agg(count(lit(1)).as("nd"))))
        .filter(col("rk") === expr("(nd + 1) div 2"))
        .select(col("cents").as("med_cents"), col("nd"))
      val mean = daily.agg(
        (sum(col("cents")) / count(lit(1))).as("mean_cents"))
      sel.crossJoin(broadcast(med)).crossJoin(broadcast(mean))
        .select(col("n").as("n_pairs"), col("nd").as("n_days"),
          // 3 decimals: half2/200 is an exact multiple of 0.005, so a
          // 2-decimal round would sit ON the tie boundary every odd sum
          round(col("kth").cast("double") / 200.0, 3).as("hl_location"),
          round(col("med_cents").cast("double") / 100.0, 2).as("median"),
          round(col("mean_cents").cast("double") / 100.0, 2).as("mean"))
    },
      """WITH daily AS (
           SELECT (CAST(l_shipdate AS DATE) - DATE '1970-01-05')::BIGINT
               AS tt,
             sum(round(l_extendedprice * 100)::BIGINT)::BIGINT AS cents
           FROM lineitem GROUP BY 1),
         pairs AS (
           SELECT (a.cents + b.cents)::BIGINT AS half2, a.tt, b.tt AS t2
           FROM daily a JOIN daily b ON b.tt >= a.tt),
         r AS (
           SELECT *, row_number() OVER (ORDER BY half2, tt, t2) AS rk,
             count(*) OVER () AS np
           FROM pairs),
         med AS (
           SELECT cents AS med_cents, nd FROM (
             SELECT cents,
               row_number() OVER (ORDER BY cents, tt) AS rk,
               count(*) OVER () AS nd
             FROM daily)
           WHERE rk = (nd + 1) // 2),
         mn AS (
           SELECT sum(cents)::DOUBLE / count(*) AS mean_cents
           FROM daily)
         SELECT np::BIGINT AS n_pairs, nd::BIGINT AS n_days,
           round(half2::DOUBLE / 200.0, 3) AS hl_location,
           round(med_cents::DOUBLE / 100.0, 2) AS median,
           round(mean_cents / 100.0, 2) AS mean
         FROM r CROSS JOIN med CROSS JOIN mn
         WHERE rk = (np + 1) // 2"""),

    // Q-Q DECILE TABLE (distribution-vs-distribution at matching
    // quantiles — where a KS scalar says "different", the Q-Q table
    // says WHERE): exact decile values of two segments' balances by
    // rank cross-multiplication (rk·10 ≥ d·n picks ⌈d·n/10⌉-th), one
    // rank window per segment, joined on decile.
    QueryDef("q228_qq_table", (s, dir) => {
      def dec(seg: String, out: String) = {
        val c = t(s, dir, "customer")
          .filter(col("c_mktsegment") === seg && col("c_acctbal") > 0)
          .select(round(col("c_acctbal") * 100, 0).cast("long")
            .as("cents"), col("c_custkey"))
        val n = c.agg(count(lit(1)).as("n"))
        // two-phase global rank over the segment's customers (dimension-
        // sized frame — no single-partition sort)
        Dedup.numberRows(c, struct(col("cents"), col("c_custkey")), "rk")
          .crossJoin(broadcast(n))
          .select(col("cents"), col("rk"), col("n"),
            explode(sequence(lit(1), lit(9))).as("dec"))
          .filter(col("rk") * 10 >= col("dec") * col("n") &&
            (col("rk") - 1) * 10 < col("dec") * col("n"))
          .groupBy("dec")
          .agg(min(col("cents")).as(out))
      }
      dec("AUTOMOBILE", "q_auto").join(dec("BUILDING", "q_build"),
          Seq("dec"))
        .select(col("dec"),
          round(col("q_auto").cast("double") / 100.0, 2).as("q_auto"),
          round(col("q_build").cast("double") / 100.0, 2).as("q_build"),
          round(col("q_auto").cast("double") / col("q_build"), 4)
            .as("ratio"))
        .orderBy("dec")
    },
      """WITH a AS (
           SELECT round(c_acctbal * 100)::BIGINT AS cents, c_custkey
           FROM customer
           WHERE c_mktsegment = 'AUTOMOBILE' AND c_acctbal > 0),
         b AS (
           SELECT round(c_acctbal * 100)::BIGINT AS cents, c_custkey
           FROM customer
           WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 0),
         ra AS (
           SELECT cents, row_number() OVER (ORDER BY cents, c_custkey)
               AS rk, count(*) OVER () AS n
           FROM a),
         rb AS (
           SELECT cents, row_number() OVER (ORDER BY cents, c_custkey)
               AS rk, count(*) OVER () AS n
           FROM b),
         da AS (
           SELECT d.range AS dec, min(cents) AS q_auto
           FROM ra CROSS JOIN range(1, 10) d
           WHERE rk * 10 >= d.range * n AND (rk - 1) * 10 < d.range * n
           GROUP BY 1),
         db AS (
           SELECT d.range AS dec, min(cents) AS q_build
           FROM rb CROSS JOIN range(1, 10) d
           WHERE rk * 10 >= d.range * n AND (rk - 1) * 10 < d.range * n
           GROUP BY 1)
         SELECT dec::BIGINT AS dec,
           round(q_auto::DOUBLE / 100.0, 2) AS q_auto,
           round(q_build::DOUBLE / 100.0, 2) AS q_build,
           round(q_auto::DOUBLE / q_build, 4) AS ratio
         FROM da JOIN db USING (dec) ORDER BY dec"""),

    // ROBUST LOCATION ZOO (mean vs 10%-trimmed vs winsorized vs
    // median, per group — how much do the tails move your center?):
    // ONE per-group rank window feeds all four: exact rank cuts for
    // the trim, rank-clamped values for the winsorization, the
    // cross-multiplied middle for the median. Integer cents until
    // display.
    QueryDef("q230_robust_location", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag").as("flag"),
          round(col("l_extendedprice") * 100, 0).cast("long").as("cents"),
          col("l_orderkey"), col("l_linenumber"))
      val full = Window.partitionBy("flag")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val r = li.withColumn("n", count(lit(1)).over(full))
        .withColumn("rk", row_number().over(Window.partitionBy("flag")
          .orderBy(col("cents"), col("l_orderkey"), col("l_linenumber"))))
        .withColumn("lo", expr("(n + 9) div 10"))
        .withColumn("hi", expr("n - (n + 9) div 10"))
      val lov = r.filter(col("rk") === col("lo") + 1)
        .select(col("flag"), col("cents").as("lov"))
      val hiv = r.filter(col("rk") === col("hi"))
        .select(col("flag"), col("cents").as("hiv"))
      r.join(broadcast(lov), Seq("flag")).join(broadcast(hiv), Seq("flag"))
        .groupBy("flag")
        .agg(max(col("n")).as("n"),
          round(sum(col("cents")).cast("double") / max(col("n")) / 100.0,
            2).as("mean"),
          round(sum(when(col("rk") > col("lo") && col("rk") <= col("hi"),
            col("cents"))).cast("double") /
            sum(when(col("rk") > col("lo") && col("rk") <= col("hi"), 1L)
              .otherwise(0L)) / 100.0, 2).as("trimmed10"),
          round(sum(least(greatest(col("cents"), col("lov")), col("hiv")))
            .cast("double") / max(col("n")) / 100.0, 2).as("winsorized10"),
          round(min(when(col("rk") * 2 >= col("n"), col("cents")))
            .cast("double") / 100.0, 2).as("median"))
        .orderBy("flag")
    },
      """WITH li AS (
           SELECT l_returnflag AS flag,
             round(l_extendedprice * 100)::BIGINT AS cents,
             l_orderkey, l_linenumber
           FROM lineitem),
         r AS (
           SELECT *, count(*) OVER (PARTITION BY flag) AS n,
             row_number() OVER (PARTITION BY flag
               ORDER BY cents, l_orderkey, l_linenumber) AS rk
           FROM li),
         c AS (
           SELECT *, (n + 9) // 10 AS lo, n - (n + 9) // 10 AS hi
           FROM r),
         lov AS (
           SELECT flag, cents AS lov FROM c WHERE rk = lo + 1),
         hiv AS (
           SELECT flag, cents AS hiv FROM c WHERE rk = hi)
         SELECT c.flag, max(n)::BIGINT AS n,
           round(sum(cents)::DOUBLE / max(n) / 100.0, 2) AS mean,
           round(sum(CASE WHEN rk > lo AND rk <= hi THEN cents END)
             ::DOUBLE / sum(CASE WHEN rk > lo AND rk <= hi
               THEN 1 ELSE 0 END) / 100.0, 2) AS trimmed10,
           round(sum(least(greatest(cents, lov), hiv))::DOUBLE
             / max(n) / 100.0, 2) AS winsorized10,
           round(min(CASE WHEN rk * 2 >= n THEN cents END)::DOUBLE
             / 100.0, 2) AS median
         FROM c JOIN lov USING (flag) JOIN hiv USING (flag)
         GROUP BY 1 ORDER BY 1"""),

    // JOIN CARDINALITY MODEL vs ACTUAL (the q-error audit of the
    // textbook estimator |L|·|R|/max(d_L,d_R) — the planner diagnostic
    // behind every join-order decision): three FK joins, estimates
    // from count/distinct-count tables only, actuals from the real
    // join counts, q-error = max(est/act, act/est).
    QueryDef("q235_cardinality_model", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      def probe(name: String, l: DataFrame, lk: String,
                r: DataFrame, rk: String): DataFrame = {
        val stats = l.agg(count(lit(1)).as("n_left"),
            countDistinct(col(lk)).as("d_left"))
          .crossJoin(broadcast(r.agg(count(lit(1)).as("n_right"),
            countDistinct(col(rk)).as("d_right"))))
        val actual = l.join(r, col(lk) === col(rk))
          .agg(count(lit(1)).as("actual"))
        stats.crossJoin(broadcast(actual))
          .select(lit(name).as("join_name"), col("n_left"),
            col("d_left"), col("n_right"), col("d_right"),
            floor(d(col("n_left")) * col("n_right") /
              greatest(col("d_left"), col("d_right")) + 0.5).cast("long")
              .as("est"),
            col("actual"))
      }
      val o = t(s, dir, "orders"); val c = t(s, dir, "customer")
      val li = t(s, dir, "lineitem"); val p = t(s, dir, "part")
      val su = t(s, dir, "supplier")
      probe("orders_customer", o, "o_custkey", c, "c_custkey")
        .unionByName(probe("lineitem_part", li, "l_partkey", p,
          "p_partkey"))
        .unionByName(probe("lineitem_supplier", li, "l_suppkey", su,
          "s_suppkey"))
        .withColumn("q_error", round(greatest(
          d(col("est")) / col("actual"),
          d(col("actual")) / col("est")), 4))
        .orderBy("join_name")
    },
      """WITH probes AS (
           SELECT 'orders_customer' AS join_name,
             (SELECT count(*) FROM orders)::BIGINT AS n_left,
             (SELECT count(DISTINCT o_custkey) FROM orders)::BIGINT
               AS d_left,
             (SELECT count(*) FROM customer)::BIGINT AS n_right,
             (SELECT count(DISTINCT c_custkey) FROM customer)::BIGINT
               AS d_right,
             (SELECT count(*) FROM orders o JOIN customer c
               ON o.o_custkey = c.c_custkey)::BIGINT AS actual
           UNION ALL
           SELECT 'lineitem_part',
             (SELECT count(*) FROM lineitem)::BIGINT,
             (SELECT count(DISTINCT l_partkey) FROM lineitem)::BIGINT,
             (SELECT count(*) FROM part)::BIGINT,
             (SELECT count(DISTINCT p_partkey) FROM part)::BIGINT,
             (SELECT count(*) FROM lineitem l JOIN part p
               ON l.l_partkey = p.p_partkey)::BIGINT
           UNION ALL
           SELECT 'lineitem_supplier',
             (SELECT count(*) FROM lineitem)::BIGINT,
             (SELECT count(DISTINCT l_suppkey) FROM lineitem)::BIGINT,
             (SELECT count(*) FROM supplier)::BIGINT,
             (SELECT count(DISTINCT s_suppkey) FROM supplier)::BIGINT,
             (SELECT count(*) FROM lineitem l JOIN supplier s
               ON l.l_suppkey = s.s_suppkey)::BIGINT)
         SELECT join_name, n_left, d_left, n_right, d_right,
           floor(n_left::DOUBLE * n_right
             / greatest(d_left, d_right) + 0.5)::BIGINT AS est,
           actual,
           round(greatest(
             floor(n_left::DOUBLE * n_right
               / greatest(d_left, d_right) + 0.5)::DOUBLE / actual,
             actual::DOUBLE /
               floor(n_left::DOUBLE * n_right
                 / greatest(d_left, d_right) + 0.5)), 4) AS q_error
         FROM probes ORDER BY join_name"""),

    // RECIPROCAL RANK FUSION (Cormack SIGIR'09 — combining rankings
    // without score calibration, the default hybrid-retrieval merge):
    // the revenue and quantity part rankings fuse by Σ 1/(60+rank);
    // items missing from one list contribute only the other's term
    // (full outer). Two top-50 rank windows + one join — no score
    // normalization stage at all.
    QueryDef("q236_rrf_fusion", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val byRev = li.groupBy("l_partkey")
        .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long"))
          .as("v"))
        .withColumn("ra", row_number().over(
          Window.orderBy(col("v").desc, col("l_partkey"))))
        .filter(col("ra") <= 50).select("l_partkey", "ra")
      val byQty = li.groupBy("l_partkey")
        .agg(sum(col("l_quantity").cast("long")).as("q"))
        .withColumn("rb", row_number().over(
          Window.orderBy(col("q").desc, col("l_partkey"))))
        .filter(col("rb") <= 50).select("l_partkey", "rb")
      byRev.join(byQty, Seq("l_partkey"), "full_outer")
        .withColumn("rrf",
          coalesce(lit(1.0) / (col("ra") + 60), lit(0.0)) +
            coalesce(lit(1.0) / (col("rb") + 60), lit(0.0)))
        .withColumn("fused_rank", row_number().over(
          Window.orderBy(col("rrf").desc, col("l_partkey"))))
        .filter(col("fused_rank") <= 20)
        .select(col("fused_rank"), col("l_partkey"), col("ra"),
          col("rb"), round(col("rrf"), 6).as("rrf"))
        .orderBy("fused_rank")
    },
      """WITH rev AS (
           SELECT l_partkey,
             row_number() OVER (ORDER BY
               sum(round(l_extendedprice * 100)::BIGINT) DESC,
               l_partkey) AS ra
           FROM lineitem GROUP BY l_partkey QUALIFY ra <= 50),
         qty AS (
           SELECT l_partkey,
             row_number() OVER (ORDER BY
               sum(CAST(l_quantity AS BIGINT)) DESC, l_partkey) AS rb
           FROM lineitem GROUP BY l_partkey QUALIFY rb <= 50),
         f AS (
           SELECT coalesce(rev.l_partkey, qty.l_partkey) AS l_partkey,
             ra, rb,
             coalesce(1.0 / (ra + 60), 0.0)
               + coalesce(1.0 / (rb + 60), 0.0) AS rrf
           FROM rev FULL OUTER JOIN qty USING (l_partkey)),
         rk AS (
           SELECT *, row_number() OVER (ORDER BY rrf DESC, l_partkey)
             AS fused_rank
           FROM f)
         SELECT fused_rank::BIGINT AS fused_rank, l_partkey,
           ra::BIGINT AS ra, rb::BIGINT AS rb, round(rrf, 6) AS rrf
         FROM rk WHERE fused_rank <= 20 ORDER BY fused_rank"""),

    // POPULARITY-BASELINE HIT-RATE BACKTEST (the recommender floor
    // every model must beat): the first half's top-10 parts by
    // purchase count become the static recommendation; hit-rate is
    // the fraction of SECOND-half lineitems touching them. One count
    // agg + one top-k window + one broadcast semi-join — the
    // train/test split is exact integer microseconds.
    QueryDef("q237_popularity_hitrate", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_partkey"),
          expr("unix_micros(cast(l_shipdate as timestamp))").as("us"))
      val span = li.agg(expr("(min(us) + max(us)) div 2").as("mid"))
      val halved = li.crossJoin(broadcast(span))
      val top10 = halved.filter(col("us") < col("mid"))
        .groupBy("l_partkey").agg(count(lit(1)).as("n"))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("n").desc, col("l_partkey"))))
        .filter(col("rk") <= 10)
        .select(col("l_partkey"), lit(1).as("rec"))
      halved.filter(col("us") >= col("mid"))
        .join(broadcast(top10), Seq("l_partkey"), "left")
        .agg(count(lit(1)).as("n_test"),
          sum(coalesce(col("rec"), lit(0))).cast("long").as("n_hits"))
        .select(col("n_test"), col("n_hits"),
          round(col("n_hits").cast("double") / col("n_test"), 6)
            .as("hit_rate"))
    },
      """WITH li AS (
           SELECT l_partkey, epoch_us(l_shipdate) AS us FROM lineitem),
         span AS (SELECT (min(us) + max(us)) // 2 AS mid FROM li),
         t10 AS (
           SELECT l_partkey FROM (
             SELECT l_partkey, count(*) AS n,
               row_number() OVER (ORDER BY count(*) DESC, l_partkey)
                 AS rk
             FROM li CROSS JOIN span WHERE us < mid GROUP BY l_partkey)
           WHERE rk <= 10)
         SELECT count(*)::BIGINT AS n_test,
           sum(CASE WHEN t10.l_partkey IS NOT NULL THEN 1 ELSE 0 END)
             ::BIGINT AS n_hits,
           round(sum(CASE WHEN t10.l_partkey IS NOT NULL
             THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS hit_rate
         FROM li CROSS JOIN span LEFT JOIN t10 USING (l_partkey)
         WHERE us >= mid"""),

    // ABC INVENTORY CLASSIFICATION (the 80/15/5 Pareto cut every
    // supply chain runs): parts ranked by exact revenue, cumulative
    // share by integer cross-multiplication (cum·100 vs thresh·total —
    // no float compare decides a class), per-class counts and shares.
    // The cumulative ranking runs TWO-PHASE (Dedup.numberAndRunningSum:
    // range-partition + local cumsum + broadcast partition offsets), so
    // no single partition ever sorts the whole part dimension.
    QueryDef("q238_abc_classification", (s, dir) => {
      val rev = t(s, dir, "lineitem").groupBy("l_partkey")
        .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long"))
          .as("v"))
      val tot = rev.agg(sum(col("v")).as("tv"))
      val ranked = Dedup.numberAndRunningSum(rev,
          struct((-col("v")).as("nv"), col("l_partkey")), "rk",
          Seq("cum" -> col("v")))
        .crossJoin(broadcast(tot))
        .withColumn("cls",
          when(col("cum") * 100 <= col("tv") * 80, "A")
            .when(col("cum") * 100 <= col("tv") * 95, "B")
            .otherwise(lit("C")))
      ranked.groupBy("cls")
        .agg(count(lit(1)).as("n_parts"), sum(col("v")).as("rev_cents"),
          round(sum(col("v")).cast("double") / max(col("tv")), 6)
            .as("rev_share"))
        .orderBy("cls")
    },
      """WITH rev AS (
           SELECT l_partkey,
             sum(round(l_extendedprice * 100)::BIGINT)::BIGINT AS v
           FROM lineitem GROUP BY 1),
         tot AS (SELECT sum(v)::BIGINT AS tv FROM rev),
         rk AS (
           SELECT v, tv,
             sum(v) OVER (ORDER BY v DESC, l_partkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum
           FROM rev CROSS JOIN tot),
         cls AS (
           SELECT *, CASE WHEN cum * 100 <= tv * 80 THEN 'A'
             WHEN cum * 100 <= tv * 95 THEN 'B' ELSE 'C' END AS cls
           FROM rk)
         SELECT cls, count(*)::BIGINT AS n_parts,
           sum(v)::BIGINT AS rev_cents,
           round(sum(v)::DOUBLE / max(tv), 6) AS rev_share
         FROM cls GROUP BY 1 ORDER BY 1"""),

      // WEIGHT-OF-EVIDENCE ENCODING (the credit-scoring categorical
    // transform: ln(P(x|good)/P(x|bad)) per bin, with the information
    // value that ranks features): balance deciles × "good" =
    // has-open-order label; 0.5-count smoothing keeps empty cells
    // finite; IV = Σ (pg−pb)·WOE folded sorted. Exact counts, decile
    // bounds broadcast.
    QueryDef("q258_woe_encoding", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val lbl = t(s, dir, "orders")
        .filter(col("o_orderstatus") === "O")
        .select(col("o_custkey")).distinct()
        .withColumn("good", lit(1L))
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_acctbal"))
        .join(lbl, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"), col("c_acctbal"),
          coalesce(col("good"), lit(0L)).as("good"))
      val bounds = c.agg(expr(
        "percentile(c_acctbal, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))")
        .as("bs"))
      val binned = c.crossJoin(broadcast(bounds))
        .select((lit(1) + size(filter(col("bs"),
          b => col("c_acctbal") > b))).as("bin"), col("good"))
      val cells = binned.groupBy("bin")
        .agg(sum(col("good")).as("ng"),
          sum(lit(1L) - col("good")).as("nb"))
      val tot = cells.agg(sum(col("ng")).as("tg"), sum(col("nb")).as("tb"))
      val woe = cells.crossJoin(broadcast(tot))
        .withColumn("pg", (d(col("ng")) + 0.5) / (d(col("tg")) + 5.0))
        .withColumn("pb", (d(col("nb")) + 0.5) / (d(col("tb")) + 5.0))
        .withColumn("woe", log(col("pg") / col("pb")))
        .withColumn("ivterm", (col("pg") - col("pb")) * col("woe"))
      val iv = woe.agg(ssum(collect_list(col("ivterm"))).as("iv"))
      woe.crossJoin(broadcast(iv))
        .select(col("bin"), col("ng"), col("nb"),
          round(col("woe"), 6).as("woe"),
          round(col("iv"), 6).as("information_value"))
        .orderBy("bin")
    },
      """WITH lbl AS (
           SELECT DISTINCT o_custkey FROM orders
           WHERE o_orderstatus = 'O'),
         c AS (
           SELECT c_custkey, c_acctbal,
             CASE WHEN lbl.o_custkey IS NOT NULL THEN 1 ELSE 0 END
               AS good
           FROM customer LEFT JOIN lbl
             ON customer.c_custkey = lbl.o_custkey),
         bounds AS (
           SELECT quantile_cont(c_acctbal,
             [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bs
           FROM c),
         binned AS (
           SELECT 1 + len(list_filter(bs, x -> c_acctbal > x)) AS bin,
             good
           FROM c CROSS JOIN bounds),
         cells AS (
           SELECT bin, sum(good)::BIGINT AS ng,
             sum(1 - good)::BIGINT AS nb
           FROM binned GROUP BY 1),
         tot AS (
           SELECT sum(ng)::BIGINT AS tg, sum(nb)::BIGINT AS tb
           FROM cells),
         woe AS (
           SELECT *,
             (ng::DOUBLE + 0.5) / (tg::DOUBLE + 5.0) AS pg,
             (nb::DOUBLE + 0.5) / (tb::DOUBLE + 5.0) AS pb
           FROM cells CROSS JOIN tot),
         w2 AS (
           SELECT *, ln(pg / pb) AS woe,
             (pg - pb) * ln(pg / pb) AS ivterm
           FROM woe),
         iv AS (
           SELECT list_sum(list_sort(list(ivterm))) AS iv FROM w2)
         SELECT bin, ng, nb, round(woe, 6) AS woe,
           round(iv, 6) AS information_value
         FROM w2 CROSS JOIN iv ORDER BY bin"""),

    // DIFFERENCE-IN-DIFFERENCES (the quasi-experimental estimator when
    // you can't randomize: treated vs control, before vs after):
    // treatment = md5 half of customers, periods = exact time halves,
    // DiD = (T2−T1)−(C2−C1) on per-(group,period) mean order value
    // from exact integer cents. Four cells, one agg.
    QueryDef("q259_diff_in_diff", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val o = t(s, dir, "orders")
        .select(col("o_custkey"),
          round(col("o_totalprice") * 100, 0).cast("long").as("cents"),
          expr("unix_micros(cast(o_orderdate as timestamp))").as("us"))
      val span = o.agg(expr("(min(us) + max(us)) div 2").as("mid"))
      val cells = o.crossJoin(broadcast(span))
        .withColumn("treated",
          pmod(TF.md5Hash48(col("o_custkey").cast("string")), lit(2L))
            === 0)
        .withColumn("after", col("us") >= col("mid"))
        .groupBy("treated", "after")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sc"))
        .withColumn("mean_cents", d(col("sc")) / col("n"))
      val wide = cells.groupBy()
        .agg(max(when(col("treated") && !col("after"),
          col("mean_cents"))).as("t1"),
          max(when(col("treated") && col("after"),
            col("mean_cents"))).as("t2"),
          max(when(!col("treated") && !col("after"),
            col("mean_cents"))).as("c1"),
          max(when(!col("treated") && col("after"),
            col("mean_cents"))).as("c2"),
          sum(col("n")).as("n_orders"))
      wide.select(col("n_orders"),
        round(col("t1") / 100.0, 2).as("treated_before"),
        round(col("t2") / 100.0, 2).as("treated_after"),
        round(col("c1") / 100.0, 2).as("control_before"),
        round(col("c2") / 100.0, 2).as("control_after"),
        round(((col("t2") - col("t1")) - (col("c2") - col("c1")))
          / 100.0, 4).as("did_estimate"))
    },
      """WITH o AS (
           SELECT o_custkey, round(o_totalprice * 100)::BIGINT AS cents,
             epoch_us(o_orderdate) AS us
           FROM orders),
         span AS (SELECT (min(us) + max(us)) // 2 AS mid FROM o),
         cells AS (
           SELECT
             (('0x' || substring(md5('0:' || o_custkey), 1, 12))
               ::BIGINT % 2 = 0) AS treated,
             (us >= mid) AS after,
             count(*)::BIGINT AS n,
             sum(cents)::DOUBLE / count(*) AS mean_cents
           FROM o CROSS JOIN span GROUP BY 1, 2),
         wide AS (
           SELECT
             max(CASE WHEN treated AND NOT after THEN mean_cents END)
               AS t1,
             max(CASE WHEN treated AND after THEN mean_cents END)
               AS t2,
             max(CASE WHEN NOT treated AND NOT after THEN mean_cents
               END) AS c1,
             max(CASE WHEN NOT treated AND after THEN mean_cents END)
               AS c2,
             sum(n)::BIGINT AS n_orders
           FROM cells)
         SELECT n_orders, round(t1 / 100.0, 2) AS treated_before,
           round(t2 / 100.0, 2) AS treated_after,
           round(c1 / 100.0, 2) AS control_before,
           round(c2 / 100.0, 2) AS control_after,
           round(((t2 - t1) - (c2 - c1)) / 100.0, 4) AS did_estimate
         FROM wide"""),

    // KENDALL TAU-B between the revenue and quantity part rankings
    // (the exact-statistic companion to q212's RBO): concordant/
    // discordant pairs over the common top-50 — all integer counts
    // from a broadcast pair build over ≤50 items; tie-corrected
    // denominator. Where RBO weights the head, tau treats all pairs
    // equally — reporting both is the standard practice.
    QueryDef("q262_kendall_tau", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val byRev = li.groupBy("l_partkey")
        .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long"))
          .as("v"))
        .withColumn("ra", row_number().over(
          Window.orderBy(col("v").desc, col("l_partkey"))))
        .filter(col("ra") <= 50).select("l_partkey", "ra")
      val byQty = li.groupBy("l_partkey")
        .agg(sum(col("l_quantity").cast("long")).as("q"))
        .withColumn("rb", row_number().over(
          Window.orderBy(col("q").desc, col("l_partkey"))))
        .filter(col("rb") <= 50).select("l_partkey", "rb")
      val common = byRev.join(byQty, Seq("l_partkey"))
      val pairs = common.select(col("ra").as("ra1"), col("rb").as("rb1"),
          col("l_partkey").as("k1"))
        .join(broadcast(common.select(col("ra").as("ra2"),
          col("rb").as("rb2"), col("l_partkey").as("k2"))),
          col("k1") < col("k2"))
        .withColumn("s", signum((col("ra1") - col("ra2")) *
          (col("rb1") - col("rb2"))).cast("long"))
      pairs.agg(count(lit(1)).as("n_pairs"),
          sum(when(col("s") === 1, 1L).otherwise(0L)).as("concordant"),
          sum(when(col("s") === -1, 1L).otherwise(0L)).as("discordant"))
        .select(col("n_pairs"), col("concordant"), col("discordant"),
          round((col("concordant") - col("discordant")).cast("double") /
            col("n_pairs"), 6).as("tau"))
    },
      """WITH rev AS (
           SELECT l_partkey,
             row_number() OVER (ORDER BY
               sum(round(l_extendedprice * 100)::BIGINT) DESC,
               l_partkey) AS ra
           FROM lineitem GROUP BY l_partkey QUALIFY ra <= 50),
         qty AS (
           SELECT l_partkey,
             row_number() OVER (ORDER BY
               sum(CAST(l_quantity AS BIGINT)) DESC, l_partkey) AS rb
           FROM lineitem GROUP BY l_partkey QUALIFY rb <= 50),
         common AS (
           SELECT l_partkey, ra, rb FROM rev JOIN qty
             USING (l_partkey)),
         pairs AS (
           SELECT sign((a.ra - b.ra) * (a.rb - b.rb))::BIGINT AS s
           FROM common a JOIN common b
             ON a.l_partkey < b.l_partkey)
         SELECT count(*)::BIGINT AS n_pairs,
           sum(CASE WHEN s = 1 THEN 1 ELSE 0 END)::BIGINT
             AS concordant,
           sum(CASE WHEN s = -1 THEN 1 ELSE 0 END)::BIGINT
             AS discordant,
           round((sum(CASE WHEN s = 1 THEN 1 ELSE 0 END)
             - sum(CASE WHEN s = -1 THEN 1 ELSE 0 END))::DOUBLE
             / count(*), 6) AS tau
         FROM pairs"""),

    // WILSON SCORE INTERVALS for per-segment conversion (the CI that
    // behaves at small n and extreme p, unlike Wald): exact counts,
    // the closed-form Wilson bounds at z=1.96 in a fixed op sequence.
    // Pure map-side math on the cells table.
    QueryDef("q264_wilson_interval", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val cells = t(s, dir, "customer")
        .groupBy(col("c_mktsegment").as("seg"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("c_acctbal") > 4500.0, 1L).otherwise(0L))
            .as("x"))
      val z2 = 1.96 * 1.96
      cells
        .withColumn("p", d(col("x")) / col("n"))
        .withColumn("den", lit(1.0) + lit(z2) / col("n"))
        .withColumn("ctr", (col("p") + lit(z2) / (col("n") * 2))
          / col("den"))
        .withColumn("hw", lit(1.96) * sqrt(col("p") * (lit(1.0) -
          col("p")) / col("n") + lit(z2) / (d(col("n")) * col("n") * 4))
          / col("den"))
        .select(col("seg"), col("n"), col("x"),
          round(col("p"), 6).as("p_hat"),
          round(col("ctr") - col("hw"), 6).as("wilson_lo"),
          round(col("ctr") + col("hw"), 6).as("wilson_hi"))
        .orderBy("seg")
    },
      """WITH cells AS (
           SELECT c_mktsegment AS seg, count(*)::BIGINT AS n,
             sum(CASE WHEN c_acctbal > 4500.0 THEN 1 ELSE 0 END)
               ::BIGINT AS x
           FROM customer GROUP BY 1),
         w AS (
           SELECT *, x::DOUBLE / n AS p,
             1.0 + 3.8416 / n AS den,
             (x::DOUBLE / n + 3.8416 / (n * 2))
               / (1.0 + 3.8416 / n) AS ctr,
             1.96 * sqrt((x::DOUBLE / n) * (1.0 - x::DOUBLE / n) / n
               + 3.8416 / (n::DOUBLE * n * 4))
               / (1.0 + 3.8416 / n) AS hw
           FROM cells)
         SELECT seg, n, x, round(p, 6) AS p_hat,
           round(ctr - hw, 6) AS wilson_lo,
           round(ctr + hw, 6) AS wilson_hi
         FROM w ORDER BY seg"""),

    // PARETO LAYERS (non-dominated sorting, NSGA-style, first two
    // fronts): front 1 = the q172 skyline; front 2 = the skyline of
    // what remains after removing front 1 — multi-objective shortlist
    // construction. Each front runs the q172 TWO-PHASE pruning: phase 1
    // drops rows strictly dominated by an earlier price-decile's max
    // size via a broadcast per-decile running-max table (map-side), so
    // the exact keep-first skyline window in phase 2 only ever sees the
    // pruned sliver (≈ frontier + bucket-local noise), never the full
    // part table — the global ORDER BY window stays metadata-sized.
    // The decile BOUNDS are computed once from the full table and
    // checkpointed (one-row model frame): both fronts reuse the same
    // bucket geometry — prune validity needs only SOME monotone price
    // bucketing, while the per-bucket running max MUST be recomputed
    // per front from the rows still in play (a dropped row's dominator
    // is provably a front-1 member, so after removing front 1 the old
    // maxima would over-prune legitimate front-2 rows).
    QueryDef("q265_pareto_layers", (s, dir) => {
      val p = t(s, dir, "part")
        .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
      val bounds = graft.ops.Caches.small(p.agg(expr(
        "percentile(p_retailprice, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))")
        .as("bs")))
      val bucketed = p.crossJoin(broadcast(bounds))
        .withColumn("bk",
          lit(1) + size(filter(col("bs"), b => col("p_retailprice") > b)))
        .drop("bs")
      def front(df: DataFrame): DataFrame = {
        val bmax = df.groupBy("bk")
          .agg(max(col("p_size")).as("bmx"))
          .withColumn("prevmx", max(col("bmx")).over(
            Window.orderBy("bk").rowsBetween(Window.unboundedPreceding, -1)))
          .select("bk", "prevmx")
        val pruned = df.join(broadcast(bmax), Seq("bk"))
          .filter(col("prevmx").isNull || col("p_size") >= col("prevmx"))
        val w = Window.orderBy(col("p_retailprice"), col("p_size").desc,
          col("p_partkey")).rowsBetween(Window.unboundedPreceding, -1)
        pruned.withColumn("mx", max(col("p_size")).over(w))
          .filter(col("mx").isNull || col("p_size") > col("mx"))
          .drop("mx", "bk", "prevmx")
      }
      // frontier-sized: checkpoint so the anti-join AND the output
      // union don't each re-run front 1's prune+skyline pipeline
      val f1 = graft.ops.Caches.small(front(bucketed))
        .withColumn("front", lit(1L))
      val rest = bucketed.join(f1.select("p_partkey"), Seq("p_partkey"),
        "left_anti")
      val f2 = front(rest).withColumn("front", lit(2L))
      f1.unionByName(f2)
        .select(col("front"), col("p_partkey"),
          round(col("p_retailprice"), 2).as("price"), col("p_size"))
        .orderBy("front", "p_partkey")
    },
      """WITH p AS (
           SELECT p_partkey, p_retailprice, p_size FROM part),
         f1 AS (
           SELECT p_partkey, p_retailprice, p_size FROM (
             SELECT *, max(p_size) OVER (ORDER BY p_retailprice,
               p_size DESC, p_partkey ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING) AS mx
             FROM p)
           WHERE mx IS NULL OR p_size > mx),
         rest AS (
           SELECT p.* FROM p LEFT JOIN f1 USING (p_partkey)
           WHERE f1.p_partkey IS NULL),
         f2 AS (
           SELECT p_partkey, p_retailprice, p_size FROM (
             SELECT *, max(p_size) OVER (ORDER BY p_retailprice,
               p_size DESC, p_partkey ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING) AS mx
             FROM rest)
           WHERE mx IS NULL OR p_size > mx),
         u AS (
           SELECT 1::BIGINT AS front, p_partkey, p_retailprice, p_size
           FROM f1
           UNION ALL
           SELECT 2::BIGINT, p_partkey, p_retailprice, p_size FROM f2)
         SELECT front, p_partkey, round(p_retailprice, 2) AS price,
           p_size
         FROM u ORDER BY front, p_partkey"""),

    // INFORMATION GAIN per candidate feature (the split criterion /
    // feature-ranking primitive): IG = H(label) − H(label|feature)
    // for three derived features against the high-priority label —
    // exact joint counts per feature (one agg each over unioned long
    // form), entropies via sorted folds; features ranked by gain.
    QueryDef("q269_info_gain", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val o = t(s, dir, "orders")
        .select(col("o_orderpriority").isin("1-URGENT", "2-HIGH")
          .as("y"),
          expr("cast(round(o_totalprice * 100) as bigint)" +
            " div 10000000").as("f_price_band"),
          expr("(datediff(to_date(o_orderdate), date'1970-01-05')" +
            " % 7 + 7) % 7").as("f_dow"),
          (col("o_orderstatus") === "O").cast("long").as("f_open"))
      val long0 = o.select(col("y"), lit("price_band").as("feat"),
          col("f_price_band").cast("long").as("v"))
        .unionByName(o.select(col("y"), lit("dow").as("feat"),
          col("f_dow").cast("long").as("v")))
        .unionByName(o.select(col("y"), lit("open").as("feat"),
          col("f_open").as("v")))
      val joint = long0.groupBy("feat", "v")
        .agg(count(lit(1)).as("n"),
          sum(when(col("y"), 1L).otherwise(0L)).as("np"))
      val tot = joint.groupBy("feat")
        .agg(sum(col("n")).as("nn"), sum(col("np")).as("tp"))
      def hTerm(p: Column) = when(p > 0 && p < 1,
        -(p * log(p) + (lit(1.0) - p) * log(lit(1.0) - p)))
        .otherwise(lit(0.0))
      val cond = joint.join(broadcast(tot), Seq("feat"))
        .withColumn("hv", hTerm(d(col("np")) / col("n")))
        .withColumn("wterm", d(col("n")) / col("nn") * col("hv"))
        .groupBy("feat")
        .agg(max(d(col("tp")) / col("nn")).as("p0"),
          ssum(collect_list(col("wterm"))).as("h_cond"),
          count(lit(1)).as("n_values"))
        .withColumn("h_label", hTerm(col("p0")))
        .withColumn("info_gain", col("h_label") - col("h_cond"))
      Caches.small(cond).withColumn("rk", row_number().over(
          Window.orderBy(col("info_gain").desc, col("feat"))))
        .select(col("rk"), col("feat"), col("n_values"),
          round(col("h_label"), 6).as("h_label"),
          round(col("h_cond"), 6).as("h_cond"),
          round(col("info_gain"), 6).as("info_gain"))
        .orderBy("rk")
    },
      """WITH o AS (
           SELECT (o_orderpriority IN ('1-URGENT', '2-HIGH')) AS y,
             round(o_totalprice * 100)::BIGINT // 10000000
               AS f_price_band,
             ((CAST(o_orderdate AS DATE) - DATE '1970-01-05') % 7 + 7)
               % 7 AS f_dow,
             (o_orderstatus = 'O')::BIGINT AS f_open
           FROM orders),
         l AS (
           SELECT y, 'price_band' AS feat, f_price_band::BIGINT AS v
           FROM o
           UNION ALL SELECT y, 'dow', f_dow::BIGINT FROM o
           UNION ALL SELECT y, 'open', f_open FROM o),
         joint AS (
           SELECT feat, v, count(*)::BIGINT AS n,
             sum(CASE WHEN y THEN 1 ELSE 0 END)::BIGINT AS np
           FROM l GROUP BY 1, 2),
         tot AS (
           SELECT feat, sum(n)::BIGINT AS nn, sum(np)::BIGINT AS tp
           FROM joint GROUP BY 1),
         cond AS (
           SELECT j.feat, count(*)::BIGINT AS n_values,
             max(tp::DOUBLE / nn) AS p0,
             list_sum(list_sort(list(n::DOUBLE / nn *
               (CASE WHEN np::DOUBLE / n > 0 AND np::DOUBLE / n < 1
                 THEN -((np::DOUBLE / n) * ln(np::DOUBLE / n)
                   + (1.0 - np::DOUBLE / n)
                     * ln(1.0 - np::DOUBLE / n))
                 ELSE 0.0 END)))) AS h_cond
           FROM joint j JOIN tot USING (feat) GROUP BY 1),
         hg AS (
           SELECT *,
             CASE WHEN p0 > 0 AND p0 < 1
               THEN -(p0 * ln(p0) + (1.0 - p0) * ln(1.0 - p0))
               ELSE 0.0 END AS h_label
           FROM cond)
         SELECT row_number() OVER (ORDER BY h_label - h_cond DESC,
             feat)::BIGINT AS rk,
           feat, n_values, round(h_label, 6) AS h_label,
           round(h_cond, 6) AS h_cond,
           round(h_label - h_cond, 6) AS info_gain
         FROM hg ORDER BY rk"""),

    // PRICE ELASTICITY by brand (log-log OLS of quantity on unit
    // price at the part grain — the pricing-analytics regression):
    // part-level exact sums first (unit price = value/qty as one
    // division), then per-brand ln-moment sums as sorted folds; the
    // slope IS the elasticity. One part-grain agg + one brand agg.
    QueryDef("q271_price_elasticity", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val pp = t(s, dir, "lineitem").groupBy("l_partkey")
        .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long"))
          .as("cents"), sum(col("l_quantity").cast("long")).as("qty"))
        .join(t(s, dir, "part").select(col("p_partkey"),
          col("p_brand")), col("l_partkey") === col("p_partkey"))
        .select(col("p_brand").as("brand"),
          log(d(col("cents")) / col("qty") / 100.0).as("x"),
          log(d(col("qty"))).as("y"))
      pp.groupBy("brand")
        .agg(count(lit(1)).as("n_parts"),
          ssum(collect_list(col("x"))).as("sx"),
          ssum(collect_list(col("y"))).as("sy"),
          ssum(collect_list(col("x") * col("y"))).as("sxy"),
          ssum(collect_list(col("x") * col("x"))).as("sxx"))
        .select(col("brand"), col("n_parts"),
          round((col("n_parts") * col("sxy") - col("sx") * col("sy")) /
            (col("n_parts") * col("sxx") - col("sx") * col("sx")), 4)
            .as("elasticity"))
        .orderBy("brand")
    },
      """WITH pp AS (
           SELECT p.p_brand AS brand,
             ln(sum(round(l_extendedprice * 100)::BIGINT)::DOUBLE
               / sum(CAST(l_quantity AS BIGINT)) / 100.0) AS x,
             ln(sum(CAST(l_quantity AS BIGINT))::DOUBLE) AS y
           FROM lineitem JOIN part p ON l_partkey = p.p_partkey
           GROUP BY l_partkey, p.p_brand),
         m AS (
           SELECT brand, count(*)::BIGINT AS n_parts,
             list_sum(list_sort(list(x))) AS sx,
             list_sum(list_sort(list(y))) AS sy,
             list_sum(list_sort(list(x * y))) AS sxy,
             list_sum(list_sort(list(x * x))) AS sxx
           FROM pp GROUP BY 1)
         SELECT brand, n_parts,
           round((n_parts * sxy - sx * sy)
             / (n_parts * sxx - sx * sx), 4) AS elasticity
         FROM m ORDER BY brand"""),

    // BENFORD FIRST-DIGIT AUDIT (the classic fabricated-data screen —
    // Newcomb 1881 / Benford 1938): leading-digit distribution of
    // order value in cents vs log10(1+1/d), with per-digit chi-square
    // contributions and the total statistic riding on every row. Exact
    // integer counts; doubles only in the display divisions; the
    // chi-square total folds via the sorted-sum aggregator (bit-exact
    // across partitionings).
    QueryDef("q274_benford", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val digits = t(s, dir, "orders")
        .select(substring(round(col("o_totalprice") * 100, 0)
          .cast("long").cast("string"), 1, 1).cast("int").as("dg"))
        .groupBy("dg").agg(count(lit(1)).as("n"))
      val tot = digits.agg(sum(col("n")).as("nn"))
      val terms = digits.crossJoin(broadcast(tot))
        .withColumn("p_exp", log10(lit(1.0) + lit(1.0) / col("dg")))
        .withColumn("n_exp", col("p_exp") * col("nn"))
        .withColumn("chi_term", (d(col("n")) - col("n_exp")) *
          (d(col("n")) - col("n_exp")) / col("n_exp"))
      val chi = terms.agg(ssum(collect_list(col("chi_term"))).as("chi2"))
      terms.crossJoin(broadcast(chi))
        .select(col("dg"), col("n"),
          round(d(col("n")) / col("nn"), 6).as("obs_share"),
          round(col("p_exp"), 6).as("exp_share"),
          round(col("chi_term"), 4).as("chi_term"),
          round(col("chi2"), 4).as("chi2"))
        .orderBy("dg")
    },
      """WITH digits AS (
           SELECT left((round(o_totalprice * 100)::BIGINT)::VARCHAR,
               1)::INT AS dg,
             count(*)::BIGINT AS n
           FROM orders GROUP BY 1),
         tot AS (SELECT sum(n)::BIGINT AS nn FROM digits),
         terms AS (
           SELECT dg, n, nn, log10(1.0 + 1.0 / dg) AS p_exp,
             log10(1.0 + 1.0 / dg) * nn AS n_exp
           FROM digits CROSS JOIN tot),
         t2 AS (
           SELECT *, (n::DOUBLE - n_exp) * (n::DOUBLE - n_exp) / n_exp
             AS chi_term
           FROM terms),
         chi AS (
           SELECT list_sum(list_sort(list(chi_term))) AS chi2 FROM t2)
         SELECT dg, n, round(n::DOUBLE / nn, 6) AS obs_share,
           round(p_exp, 6) AS exp_share,
           round(chi_term, 4) AS chi_term, round(chi2, 4) AS chi2
         FROM t2 CROSS JOIN chi ORDER BY dg"""),

    // GINI / LORENZ CONCENTRATION of order value ("what share of spend
    // do the top deciles carry" — the corpus-composition inequality
    // metric): exact integer cents; the global value ranking runs
    // TWO-PHASE (Dedup.numberAndRunningSum — range-partition, local
    // rank+cumsum, broadcast offsets; no single-partition sort), the
    // Σ rank·value term sums in decimal(38) so it cannot overflow at
    // warehouse row counts, and G = (2·Σrk·x − (n+1)·Σx)/(n·Σx) comes
    // out of one pass. Output: 10 Lorenz deciles with cumulative
    // share, Gini on every row.
    QueryDef("q275_gini_lorenz", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"),
          round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      val ranked = Dedup.numberAndRunningSum(o,
        struct(col("cents"), col("o_orderkey")), "rk",
        Seq("cum" -> col("cents")))
      val g = ranked.agg(count(lit(1)).as("n"),
          sum(col("cents")).as("sx"),
          sum((col("rk").cast("decimal(38,0)") * col("cents")))
            .as("srx"))
        .select(col("n"), col("sx"),
          round((lit(2.0) * col("srx").cast("double")
            - d(col("n") + 1) * d(col("sx")))
            / (d(col("n")) * d(col("sx"))), 6).as("gini"))
      ranked.crossJoin(broadcast(g))
        .withColumn("decile", expr("((rk - 1) * 10) div n + 1"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_orders"), max(col("cum")).as("cum_cents"),
          max(col("sx")).as("sx"), max(col("gini")).as("gini"))
        .select(col("decile"), col("n_orders"), col("cum_cents"),
          round(d(col("cum_cents")) / col("sx"), 6).as("cum_share"),
          col("gini"))
        .orderBy("decile")
    },
      """WITH o AS (
           SELECT o_orderkey,
             round(o_totalprice * 100)::BIGINT AS cents
           FROM orders),
         r AS (
           SELECT cents,
             row_number() OVER (ORDER BY cents, o_orderkey)::BIGINT
               AS rk,
             sum(cents) OVER (ORDER BY cents, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
               AS cum
           FROM o),
         g AS (
           SELECT count(*)::BIGINT AS n, sum(cents)::BIGINT AS sx,
             sum(rk::HUGEINT * cents) AS srx
           FROM r),
         g2 AS (
           SELECT n, sx,
             round((2.0 * srx::DOUBLE - (n + 1)::DOUBLE * sx::DOUBLE)
               / (n::DOUBLE * sx::DOUBLE), 6) AS gini
           FROM g)
         SELECT ((rk - 1) * 10) // n + 1 AS decile,
           count(*)::BIGINT AS n_orders, max(cum)::BIGINT AS cum_cents,
           round(max(cum)::DOUBLE / max(sx), 6) AS cum_share,
           max(gini) AS gini
         FROM r CROSS JOIN g2
         GROUP BY 1 ORDER BY 1"""),

    // PSI (population stability index) — the model-monitoring drift
    // score, computed for order value between a reference period
    // (pre-1998) and the current one: 10 buckets from the REFERENCE
    // decile bounds (floored to integer cents, so bucket membership is
    // integer-exact cross-engine), Laplace-smoothed shares
    // ((n+1)/(N+10) — keeps empty buckets defined, deterministically),
    // PSI = Σ (p−q)·ln(p/q) via the sorted fold. Complements q276: KL
    // watches composition, PSI watches a numeric distribution.
    QueryDef("q279_psi", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val o = t(s, dir, "orders")
        .select(expr("cast(round(o_totalprice * 100) as bigint)")
          .as("cents"),
          (col("o_orderdate") >= lit("1998-01-01").cast("timestamp"))
            .as("cur"))
      val bounds = o.filter(!col("cur")).agg(expr(
        "transform(percentile(cents, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9)), b -> cast(floor(b) as bigint))")
        .as("bs"))
      val bucketed = o.crossJoin(broadcast(bounds))
        .withColumn("bk",
          lit(1) + size(filter(col("bs"), b => col("cents") > b)))
        .groupBy("bk")
        .agg(sum(when(col("cur"), 0L).otherwise(1L)).as("n_ref"),
          sum(when(col("cur"), 1L).otherwise(0L)).as("n_cur"))
      val totals = bucketed.agg(sum(col("n_ref")).as("m"),
        sum(col("n_cur")).as("nn"))
      val terms = bucketed.crossJoin(broadcast(totals))
        .withColumn("q", (d(col("n_ref")) + 1.0) / (col("m") + 10))
        .withColumn("p", (d(col("n_cur")) + 1.0) / (col("nn") + 10))
        .withColumn("term", (col("p") - col("q")) * log(col("p") / col("q")))
      val psi = terms.agg(ssum(collect_list(col("term"))).as("psi"))
      terms.crossJoin(broadcast(psi))
        .select(col("bk"), col("n_ref"), col("n_cur"),
          round(col("term"), 6).as("term"),
          round(col("psi"), 6).as("psi"))
        .orderBy("bk")
    },
      """WITH o AS (
           SELECT round(o_totalprice * 100)::BIGINT AS cents,
             (o_orderdate >= TIMESTAMP '1998-01-01') AS cur
           FROM orders),
         bounds AS (
           SELECT list_transform(
             quantile_cont(cents, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
             b -> floor(b)::BIGINT) AS bs
           FROM o WHERE NOT cur),
         bucketed AS (
           SELECT 1 + len(list_filter(bs, b -> cents > b)) AS bk,
             sum(CASE WHEN cur THEN 0 ELSE 1 END)::BIGINT AS n_ref,
             sum(CASE WHEN cur THEN 1 ELSE 0 END)::BIGINT AS n_cur
           FROM o CROSS JOIN bounds GROUP BY 1),
         totals AS (
           SELECT sum(n_ref)::BIGINT AS m, sum(n_cur)::BIGINT AS nn
           FROM bucketed),
         terms AS (
           SELECT bk, n_ref, n_cur,
             (n_ref::DOUBLE + 1.0) / (m + 10) AS q,
             (n_cur::DOUBLE + 1.0) / (nn + 10) AS p
           FROM bucketed CROSS JOIN totals),
         t2 AS (
           SELECT *, (p - q) * ln(p / q) AS term FROM terms),
         psi AS (
           SELECT list_sum(list_sort(list(term))) AS psi FROM t2)
         SELECT bk, n_ref, n_cur, round(term, 6) AS term,
           round(psi, 6) AS psi
         FROM t2 CROSS JOIN psi ORDER BY bk"""),

    // FREEDMAN–DIACONIS HISTOGRAM (the bin-width rule that adapts to
    // spread and n): width = ceil(2·IQR/∛n) in integer cents — IQR
    // from floored percentile bounds (the q279 integer-exact trick) —
    // then an integer-division binning, so bucket membership is exact
    // cross-engine. The histogram every distribution dashboard draws.
    QueryDef("q296_fd_histogram", (s, dir) => {
      val o = t(s, dir, "orders")
        .select(expr("cast(round(o_totalprice * 100) as bigint)")
          .as("cents"))
      val stats = o.agg(count(lit(1)).as("n"),
          floor(expr("percentile(cents, 0.25)")).as("q1"),
          floor(expr("percentile(cents, 0.75)")).as("q3"))
        .withColumn("width", greatest(ceil(
          lit(2.0) * (col("q3") - col("q1")) / cbrt(col("n").cast("double")))
          .cast("long"), lit(1L)))
        .select("n", "width")
      o.crossJoin(broadcast(stats))
        .withColumn("bin", expr("cents div width"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_orders"), max(col("width")).as("width"))
        .select(col("bin"), (col("bin") * col("width")).as("lo_cents"),
          col("n_orders"), col("width"))
        .orderBy("bin")
    },
      """WITH o AS (
           SELECT round(o_totalprice * 100)::BIGINT AS cents
           FROM orders),
         stats AS (
           SELECT count(*)::BIGINT AS n,
             floor(quantile_cont(cents, 0.25))::BIGINT AS q1,
             floor(quantile_cont(cents, 0.75))::BIGINT AS q3
           FROM o),
         w AS (
           SELECT n,
             greatest(ceil(2.0 * (q3 - q1) / cbrt(n::DOUBLE))::BIGINT, 1) AS width
           FROM stats)
         SELECT cents // width AS bin,
           (cents // width) * width AS lo_cents,
           count(*)::BIGINT AS n_orders, max(width)::BIGINT AS width
         FROM o CROSS JOIN w
         GROUP BY 1, 2 ORDER BY 1"""),

    // JOIN-SIZE ESTIMATION via Count-Min inner product (the AMS
    // estimator every CBO wants and no per-key histogram can afford at
    // 100 TB): |A ⋈_k B| = Σ_k f_A(k)·f_B(k), estimated by the
    // depth-wise MINIMUM of Σ_buckets cmA·cmB — two 4×256 sketches,
    // each one groupBy, joined on (d, bucket). Exact answer from the
    // key-frequency join for the error report. Estimate ≥ exact always
    // (CM collisions only inflate).
    QueryDef("q311_join_size_cm", (s, dir) => {
      val li = t(s, dir, "lineitem")
      // ONE corpus scan + ONE key-grain shuffle feed BOTH sketches AND
      // the exact inner product (r15; §6 read amplification): the old
      // shape scanned lineitem four times (each sketch's cell explode,
      // each side of the exact key-frequency join). CM cells are plain
      // sums, so building them from per-key counts via
      // countMinWeighted is integer-identical to counting raw rows
      // (SketchSampleSpec pins the equivalence); the b-side keys are
      // exactly those with cb > 0. Checkpointed (key-cardinality
      // grain, registered corpus-scale) for its three consumers.
      val kc = Caches.corpusScale(li
        .select(col("l_partkey").cast("string").as("k"),
          when(col("l_shipdate") > lit("2000-01-01").cast("timestamp"),
            lit(1L)).otherwise(lit(0L)).as("__inb"))
        .groupBy("k")
        .agg(count(lit(1)).as("ca"), sum(col("__inb")).as("cb")))
      val skA = Sketches.countMinWeighted(kc, col("k"), col("ca"),
        depth = 4, width = 256)
      val skB = Sketches.countMinWeighted(kc.filter(col("cb") > 0),
          col("k"), col("cb"), depth = 4, width = 256)
        .withColumnRenamed("cnt", "cntb")
      val est = skA.join(skB, Seq("d", "bucket"))
        .groupBy("d").agg(sum(col("cnt") * col("cntb")).as("ip"))
        .agg(min(col("ip")).as("est_pairs"))
      // a null l_partkey never equi-joins, so its group adds no pairs
      val exact = kc.filter(col("cb") > 0 && col("k").isNotNull)
        .agg(sum(col("ca") * col("cb")).as("exact_pairs"))
      // broadcast hint is load-bearing: both sides are one-row aggs,
      // but without it the planner may pick a shuffled CartesianProduct
      // when a sibling suite's session conf disables auto-broadcast
      est.crossJoin(broadcast(exact))
        .withColumn("inflation", round(
          col("est_pairs").cast("double") / col("exact_pairs"), 4))
    },
      """WITH a AS (
           SELECT CAST(l_partkey AS VARCHAR) AS k FROM lineitem),
         b AS (
           SELECT CAST(l_partkey AS VARCHAR) AS k FROM lineitem
           WHERE l_shipdate > TIMESTAMP '2000-01-01'),
         ska AS (
           SELECT d, ('0x' || substring(md5(CAST(d AS VARCHAR) || ':'
               || k), 1, 12))::BIGINT % 256 AS bucket,
             count(*)::BIGINT AS cnt
           FROM a, unnest([0, 1, 2, 3]) AS t(d) GROUP BY 1, 2),
         skb AS (
           SELECT d, ('0x' || substring(md5(CAST(d AS VARCHAR) || ':'
               || k), 1, 12))::BIGINT % 256 AS bucket,
             count(*)::BIGINT AS cntb
           FROM b, unnest([0, 1, 2, 3]) AS t(d) GROUP BY 1, 2),
         est AS (
           SELECT min(ip)::BIGINT AS est_pairs FROM (
             SELECT ska.d, sum(cnt * cntb)::BIGINT AS ip
             FROM ska JOIN skb USING (d, bucket) GROUP BY 1)),
         ex AS (
           SELECT sum(ca * cb)::BIGINT AS exact_pairs FROM (
             SELECT k, count(*)::BIGINT AS ca FROM a GROUP BY 1) fa
           JOIN (
             SELECT k, count(*)::BIGINT AS cb FROM b GROUP BY 1) fb
           USING (k))
         SELECT est_pairs, exact_pairs,
           round(est_pairs::DOUBLE / exact_pairs, 4) AS inflation
         FROM est CROSS JOIN ex"""),

    // RANGE-SELECTIVITY ESTIMATION from a fixed-width histogram (the
    // CBO primitive zone maps feed): 50k-cent buckets (map-side div —
    // no global sort, unlike an equi-depth build), uniform-within-
    // bucket interpolation for 5 deliberately bucket-misaligned
    // predicates, estimate vs exact row count. The per-predicate error
    // is the number a cost model's plan choice actually consumes.
    QueryDef("q312_selectivity_histogram", (s, dir) => {
      val W = 5000000L
      val cents = round(col("o_totalprice") * 100, 0).cast("long")
      val o = t(s, dir, "orders").select(cents.as("c"))
      val hist = o.groupBy(expr("c div 5000000").as("b"))
        .agg(count(lit(1)).as("cnt"))
      val preds = Seq(
        (0L, 1234567L, 8888888L), (1L, 7500000L, 20000000L),
        (2L, 12345678L, 13000000L), (3L, 30000000L, 47500000L),
        (4L, 2500000L, 52345678L))
      val pr = preds.map { case (p, lo, hi) =>
        struct(lit(p).as("pred"), lit(lo).as("lo"), lit(hi).as("hi")) }
      val d = (c: Column) => c.cast("double")
      val est = hist
        .withColumn("pp", explode(array(pr: _*)))
        .select(col("b"), col("cnt"), col("pp.pred").as("pred"),
          col("pp.lo").as("lo"), col("pp.hi").as("hi"))
        .withColumn("blo", col("b") * W)
        .withColumn("bhi", (col("b") + 1L) * W)
        .withColumn("frac",
          greatest(lit(0.0), (d(least(col("hi"), col("bhi")))
            - d(greatest(col("lo"), col("blo")))) / d(lit(W))))
        .groupBy("pred")
        .agg(round(ssum(collect_list(d(col("cnt")) * col("frac"))), 2)
          .as("est_rows"))
      val exact = o
        .withColumn("pp", explode(array(pr: _*)))
        .filter(col("c") >= col("pp.lo") && col("c") < col("pp.hi"))
        .groupBy(col("pp.pred").as("pred"))
        .agg(count(lit(1)).as("exact_rows"))
      est.join(exact, Seq("pred"), "left")
        .select(col("pred"), col("est_rows"),
          coalesce(col("exact_rows"), lit(0L)).as("exact_rows"))
        .orderBy("pred")
    },
      """WITH o AS (
           SELECT round(o_totalprice * 100)::BIGINT AS c FROM orders),
         hist AS (
           SELECT c // 5000000 AS b, count(*)::BIGINT AS cnt
           FROM o GROUP BY 1),
         preds AS (
           SELECT * FROM (VALUES (0::BIGINT, 1234567::BIGINT, 8888888::BIGINT),
             (1, 7500000, 20000000), (2, 12345678, 13000000),
             (3, 30000000, 47500000), (4, 2500000, 52345678))
             t(pred, lo, hi)),
         est AS (
           SELECT pred, round(list_sum(list_sort(list(
               cnt::DOUBLE * greatest(0.0,
                 (least(hi, (b + 1) * 5000000)::DOUBLE
                   - greatest(lo, b * 5000000)::DOUBLE)
                 / CAST(5000000 AS DOUBLE))))), 2) AS est_rows
           FROM hist CROSS JOIN preds GROUP BY 1),
         ex AS (
           SELECT pred, count(*)::BIGINT AS exact_rows
           FROM o JOIN preds ON c >= lo AND c < hi GROUP BY 1)
         SELECT pred, est_rows,
           coalesce(exact_rows, 0::BIGINT) AS exact_rows
         FROM est LEFT JOIN ex USING (pred) ORDER BY pred"""),

    // BLOCK vs ROW SAMPLING BIAS (the scan-design lesson behind
    // TABLESAMPLE SYSTEM vs BERNOULLI): estimating mean line revenue
    // from a ~10% sample drawn by ROWS (md5 on the line identity) vs
    // by BLOCKS (md5 on l_orderkey — whole orders in or out, the way
    // block sampling admits whole files). Lines within an order are
    // correlated, so the block design pays a design effect the row
    // design doesn't; both estimators and the truth are exact-cents
    // sums with deterministic membership — the bias is measured, not
    // argued.
    QueryDef("q313_sampling_design", (s, dir) => {
      val li = t(s, dir, "lineitem").select(
        col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("cents"))
      val tagged = li
        .withColumn("row_in", pmod(TF.md5Hash48(concat(
          col("ok").cast("string"), lit("_"), col("ln").cast("string"))),
          lit(10L)) === 0)
        .withColumn("blk_in", pmod(TF.md5Hash48(col("ok").cast("string")),
          lit(10L)) === 0)
      def est(flag: String, name: String) = tagged
        .filter(col(flag))
        .agg(lit(name).as("design"), count(lit(1)).as("n_rows"),
          round(sum(col("cents")).cast("double") / count(lit(1)) / 100.0,
            4).as("mean_price"))
      val truth = tagged.agg(lit("full").as("design"),
        count(lit(1)).as("n_rows"),
        round(sum(col("cents")).cast("double") / count(lit(1)) / 100.0, 4)
          .as("mean_price"))
      est("blk_in", "block10").unionByName(est("row_in", "row10"))
        .unionByName(truth)
        .orderBy("design")
    },
      """WITH li AS (
           SELECT l_orderkey AS ok, l_linenumber AS ln,
             round(l_extendedprice * 100)::BIGINT AS cents
           FROM lineitem),
         tg AS (
           SELECT cents,
             ('0x' || substring(md5('0:' || CAST(ok AS VARCHAR) || '_'
               || CAST(ln AS VARCHAR)), 1, 12))::BIGINT % 10 = 0 AS row_in,
             ('0x' || substring(md5('0:' || CAST(ok AS VARCHAR)), 1, 12))
               ::BIGINT % 10 = 0 AS blk_in
           FROM li)
         SELECT * FROM (
           SELECT 'block10' AS design, count(*)::BIGINT AS n_rows,
             round(sum(cents)::DOUBLE / count(*) / 100.0, 4) AS mean_price
           FROM tg WHERE blk_in
           UNION ALL
           SELECT 'row10', count(*)::BIGINT,
             round(sum(cents)::DOUBLE / count(*) / 100.0, 4)
           FROM tg WHERE row_in
           UNION ALL
           SELECT 'full', count(*)::BIGINT,
             round(sum(cents)::DOUBLE / count(*) / 100.0, 4)
           FROM tg)
         ORDER BY design"""),

    // BENFORD'S LAW SCREEN (the forensic first-digit test for synthetic
    // or tampered monetary data — a data-quality gate for ingested
    // training corpora): observed first-significant-digit counts of
    // order totals vs the Benford expectation, with per-digit χ²
    // contributions. The nine log₁₀(1+1/d) constants are IDENTICAL
    // literals in query and oracle (no cross-engine libm), so every
    // double op replays bit-for-bit. Map-side digit extraction, one
    // 9-row aggregate — nothing scales beyond the scan.
    QueryDef("q322_benford_screen", (s, dir) => {
      val benford = typedlit(Array(0.3010299956639812, 0.17609125905568124,
        0.12493873660829992, 0.09691001300805642, 0.07918124604762482,
        0.06694678963061322, 0.05799194697768673, 0.05115252244738129,
        0.04575749056067514))
      val obs = t(s, dir, "orders")
        .select(substring(expr("cast(round(o_totalprice * 100) as bigint)")
          .cast("string"), 1, 1).cast("long").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n_obs"))
      val tot = obs.agg(sum(col("n_obs")).cast("double").as("__n"))
      obs.crossJoin(broadcast(tot))
        .withColumn("__e", col("__n") *
          element_at(benford, col("digit").cast("int")))
        .select(col("digit"), col("n_obs"),
          round(element_at(benford, col("digit").cast("int")), 6)
            .as("p_benford"),
          round(col("__e"), 4).as("expected"),
          round((col("n_obs") - col("__e")) * (col("n_obs") - col("__e"))
            / col("__e"), 6).as("chi2_term"))
        .orderBy("digit")
    },
      """WITH d AS (
           SELECT CAST(substring(CAST(CAST(round(o_totalprice * 100)
             AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
           FROM orders),
         o AS (SELECT digit, count(*) AS n_obs FROM d GROUP BY 1),
         t AS (SELECT CAST(sum(n_obs) AS DOUBLE) AS nn FROM o),
         p AS (SELECT [0.3010299956639812, 0.17609125905568124,
           0.12493873660829992, 0.09691001300805642, 0.07918124604762482,
           0.06694678963061322, 0.05799194697768673, 0.05115252244738129,
           0.04575749056067514] AS bl)
         SELECT digit, n_obs,
           round(bl[digit::INT], 6) AS p_benford,
           round(nn * bl[digit::INT], 4) AS expected,
           round((n_obs - nn * bl[digit::INT])
               * (n_obs - nn * bl[digit::INT])
             / (nn * bl[digit::INT]), 6) AS chi2_term
         FROM o, t, p ORDER BY digit"""),

    // GROUP-WISE WINSORIZATION (the standard outlier clamp before
    // feature scaling / reward-model stats): per market segment, clip
    // account balances at that segment's exact type-7 p10/p90
    // (Spark `percentile` ≡ DuckDB quantile_cont, proven bridge) and
    // report the clip counts and the winsorized sum (sorted fold —
    // bit-exact). Percentiles are per-group aggregates (no global
    // sort); the clip is map-side.
    QueryDef("q323_winsorize_groups", (s, dir) => {
      val c = t(s, dir, "customer").select(
        col("c_mktsegment").as("seg"),
        expr("cast(round(c_acctbal * 100) as bigint)").as("cents"))
      val cuts = c.groupBy("seg").agg(
        expr("percentile(cents, 0.1D)").as("lo"),
        expr("percentile(cents, 0.9D)").as("hi"))
      c.join(broadcast(cuts), Seq("seg"))
        .withColumn("w",
          greatest(least(col("cents").cast("double"), col("hi")), col("lo")))
        .groupBy("seg")
        .agg(count(lit(1)).as("n"),
          sum(when(col("cents").cast("double") < col("lo"), 1L)
            .otherwise(0L)).as("n_clip_lo"),
          sum(when(col("cents").cast("double") > col("hi"), 1L)
            .otherwise(0L)).as("n_clip_hi"),
          round(min(col("lo")), 4).as("p10"),
          round(min(col("hi")), 4).as("p90"),
          round(ssum(collect_list(col("w"))), 4).as("sum_winsorized"))
        .orderBy("seg")
    },
      """WITH c AS (
           SELECT c_mktsegment AS seg,
             CAST(round(c_acctbal * 100) AS BIGINT) AS cents
           FROM customer),
         cuts AS (
           SELECT seg, quantile_cont(cents, 0.1) AS lo,
             quantile_cont(cents, 0.9) AS hi
           FROM c GROUP BY 1),
         j AS (
           SELECT c.seg, cents, lo, hi,
             greatest(least(CAST(cents AS DOUBLE), hi), lo) AS w
           FROM c JOIN cuts USING (seg))
         SELECT seg, count(*) AS n,
           sum(CASE WHEN CAST(cents AS DOUBLE) < lo THEN 1 ELSE 0 END)
             ::BIGINT AS n_clip_lo,
           sum(CASE WHEN CAST(cents AS DOUBLE) > hi THEN 1 ELSE 0 END)
             ::BIGINT AS n_clip_hi,
           round(min(lo), 4) AS p10, round(min(hi), 4) AS p90,
           round(list_sum(list_sort(list(w))), 4) AS sum_winsorized
         FROM j GROUP BY seg ORDER BY seg"""),

    // ISOTONIC CALIBRATION (PAVA fit — the standard monotone
    // recalibration of a quality/reward score against labels; q198's
    // ECE table DIAGNOSES miscalibration, this FITS the correction).
    // Exact minimax form on a fixed score-bucket grain: fit(i) =
    // max_{j<=i} min_{k>=i} avg(pos, j..k), with every average in
    // fixed-point 1e9 integer floor-division so both engines replay
    // bit-for-bit. The corpus contributes ONE bucket aggregation; the
    // minimax runs on the <=100-bucket grain (pairs, two windows) —
    // model-sized however big the corpus.
    QueryDef("q341_isotonic_pava", (s, dir) => {
      val buckets = t(s, dir, "orders")
        .select((round(col("o_totalprice") * 100, 0).cast("long"))
          .as("cents"),
          col("o_orderpriority").isin("1-URGENT", "2-HIGH").as("y"))
        .select(least(lit(99L), expr("cents div 600000")).as("b"),
          col("y"))
        .groupBy("b")
        .agg(count(lit(1)).as("n"),
          sum(when(col("y"), 1L).otherwise(0L)).as("pos"))
      val g = Caches.small(buckets) // fixed <=100-bucket grain
      val cum = g.withColumn("cn",
          sum(col("n")).over(Window.orderBy("b")
            .rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("cp", sum(col("pos")).over(Window.orderBy("b")
          .rowsBetween(Window.unboundedPreceding, 0)))
      val c = Caches.small(cum.select(col("b"), col("n"), col("pos"),
        col("cn"), col("cp")))
      // the <=100-row grain side broadcasts EXPLICITLY: a non-equi
      // join on two stat-less RDD scans would otherwise plan a
      // shuffled CartesianProduct (both sides are the same
      // checkpointed grain — the broadcast BNLJ build is proof-bounded)
      val jk = c.select(col("b").as("j"), (col("cn") - col("n")).as("cnj"),
          (col("cp") - col("pos")).as("cpj"))
        .join(broadcast(c.select(col("b").as("k"), col("cn").as("cnk"),
          col("cp").as("cpk"))), col("j") <= col("k"))
        .select(col("j"), col("k"),
          expr("(1000000000 * (cpk - cpj)) div (cnk - cnj)").as("avg_e9"))
      // m(j,i) = min over k>=i of avg(j,k): reverse running min per j
      val m = jk.withColumn("m", min(col("avg_e9")).over(
          Window.partitionBy("j").orderBy(col("k").desc)
            .rowsBetween(Window.unboundedPreceding, 0)))
        .select(col("j"), col("k").as("i"), col("m"))
        .filter(col("j") <= col("i"))
      // fit(i) = max over j<=i of m(j,i): running max per i, row j==i
      val fit = m.withColumn("f", max(col("m")).over(
          Window.partitionBy("i").orderBy("j")
            .rowsBetween(Window.unboundedPreceding, 0)))
        .filter(col("j") === col("i"))
        .select(col("i").as("b"), col("f").as("fit_e9"))
      c.join(fit, Seq("b"))
        .select(col("b"), col("n"), col("pos"),
          expr("(1000000000 * pos) div n").as("rate_e9"), col("fit_e9"))
        .orderBy("b")
    },
      """WITH o AS (
           SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderpriority IN ('1-URGENT', '2-HIGH') AS y
           FROM orders),
         b AS (
           SELECT least(99, cents // 600000) AS b, count(*) AS n,
             sum(CASE WHEN y THEN 1 ELSE 0 END)::BIGINT AS pos
           FROM o GROUP BY 1),
         c AS (
           SELECT b, n, pos,
             sum(n) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING)::BIGINT
               AS cn,
             sum(pos) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING)::BIGINT
               AS cp
           FROM b),
         jk AS (
           SELECT j.b AS j, k.b AS k,
             ((1000000000 * (k.cp - (j.cp - j.pos)))
               // (k.cn - (j.cn - j.n)))::BIGINT AS avg_e9
           FROM c j JOIN c k ON j.b <= k.b),
         m AS (
           SELECT j, k AS i,
             min(avg_e9) OVER (PARTITION BY j ORDER BY k DESC
               ROWS UNBOUNDED PRECEDING) AS m
           FROM jk),
         f AS (
           SELECT j, i,
             max(m) OVER (PARTITION BY i ORDER BY j
               ROWS UNBOUNDED PRECEDING) AS fit_e9
           FROM m WHERE j <= i)
         SELECT c.b, c.n, c.pos,
           ((1000000000 * c.pos) // c.n)::BIGINT AS rate_e9,
           ff.fit_e9
         FROM c JOIN (SELECT i AS b, fit_e9 FROM f WHERE j = i) ff
           ON c.b = ff.b
         ORDER BY c.b"""),
  )
}
