package graft.queries

import graft.GraftQuery
import graft.functions.ch
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Wave D of SURVEY.md §2: ClickHouse aggregate-function analogs.
  * The reference's migrated code speaks ClickHouse dialect
  * (/root/reference/src/corpus/orm_none.txt:483-489); these queries
  * exercise the `graft.functions.ch` facade.
  */
object ChFunctions {

  /** argMax/argMin over a deterministic total order. `value` has ties
    * at 2 decimals, so the ordering key folds in event_id — as a
    * FIXED-WIDTH zero-padded string, value digits first: lexicographic
    * order equals (value, event_id) order with no arithmetic packing
    * (the former round(value*100)*10^7 + event_id silently let huge
    * sharded event_ids outvote the value once ids passed 10^7, the
    * q46 overflow class). The 10^10 offset keeps the value field
    * non-negative for |value| ≤ 10^8; event_ids must be ≥ 0. Both
    * bounds are ENFORCED per row (raise_error), because outside them
    * lpad would silently scramble the order — the failure mode this
    * key exists to eliminate must be loud, not moved. */
  val q21 = GraftQuery(
    "q21_argmax",
    (s, dir) => {
      val vpart = round(col("value") * 100).cast("long") + lit(10000000000L)
      val ord = concat(
        lpad(when(vpart < 0 || vpart >= 100000000000L,
               raise_error(lit("q21 ordering key: |value| exceeds 10^8")))
             .otherwise(vpart).cast("string"), 12, "0"),
        lpad(when(col("event_id") < 0,
               raise_error(lit("q21 ordering key: negative event_id")))
             .otherwise(col("event_id")).cast("string"), 20, "0"))
      Tables(s, dir).events
        .groupBy(col("user_id"))
        .agg(ch.argMax(col("event_type"), ord).as("top_event"),
             ch.argMin(col("event_type"), ord).as("bottom_event"))
        .orderBy(col("user_id"))
    },
    Some("""SELECT user_id,
                   max_by(event_type, lpad(cast(cast(round(value * 100) AS BIGINT) + 10000000000 AS VARCHAR), 12, '0')
                                      || lpad(cast(event_id AS VARCHAR), 20, '0')) AS top_event,
                   min_by(event_type, lpad(cast(cast(round(value * 100) AS BIGINT) + 10000000000 AS VARCHAR), 12, '0')
                                      || lpad(cast(event_id AS VARCHAR), 20, '0')) AS bottom_event
            FROM events GROUP BY 1 ORDER BY user_id"""),
  )

  /** Exact quantiles (ClickHouse quantileExact), linear interpolation. */
  val q22 = GraftQuery(
    "q22_quantiles",
    (s, dir) => Tables(s, dir).lineitem
      .groupBy(col("l_returnflag"))
      .agg(round(ch.quantile(col("l_quantity"), 0.5), 4).as("p50"),
           round(ch.quantile(col("l_quantity"), 0.9), 4).as("p90"),
           round(ch.quantile(col("l_quantity"), 0.99), 4).as("p99"))
      .orderBy(col("l_returnflag")),
    Some("""SELECT l_returnflag,
                   round(quantile_cont(l_quantity, 0.5), 4) AS p50,
                   round(quantile_cont(l_quantity, 0.9), 4) AS p90,
                   round(quantile_cont(l_quantity, 0.99), 4) AS p99
            FROM lineitem GROUP BY 1 ORDER BY l_returnflag"""),
  )

  /** topK(5) most active users per event_type. */
  val q23 = GraftQuery(
    "q23_topk",
    (s, dir) => ch.topKByGroup(Tables(s, dir).events, Seq("event_type"), "user_id", 5)
      .orderBy(col("event_type"), col("cnt").desc, col("user_id")),
    Some("""SELECT event_type, user_id, cnt FROM (
              SELECT event_type, user_id, count(*) AS cnt,
                     row_number() OVER (PARTITION BY event_type ORDER BY count(*) DESC, user_id) AS rn
              FROM events GROUP BY 1, 2) t
            WHERE rn <= 5 ORDER BY event_type, cnt DESC, user_id"""),
  )

  /** groupArray with deterministic order (sorted). The array itself is
    * the operator under test (ch.groupArraySorted); the registry output
    * serializes it to a ','-joined string because the driver's oracle
    * harness sorts/hashes pandas values, and raw array cells crash its
    * sort path (SURVEY §5 scalar-output convention). */
  val q24 = GraftQuery(
    "q24_grouparray",
    (s, dir) => Tables(s, dir).orders
      .groupBy(col("o_custkey"))
      .agg(array_join(ch.groupArraySorted(col("o_orderkey")), ",").as("orderkeys"),
           count(lit(1)).as("n_orders"))
      .orderBy(col("o_custkey")),
    Some("""SELECT o_custkey,
                   array_to_string(list_sort(list(o_orderkey)), ',') AS orderkeys,
                   count(*) AS n_orders
            FROM orders GROUP BY 1 ORDER BY o_custkey"""),
  )

  /** Statistical aggregates: corr / stddev / covar. */
  val q25 = GraftQuery(
    "q25_stats_corr",
    (s, dir) => Tables(s, dir).lineitem
      .groupBy(col("l_returnflag"))
      .agg(round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qp"),
           round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
           round(covar_samp(col("l_quantity"), col("l_extendedprice")), 0).as("cov_qp"))
      .orderBy(col("l_returnflag")),
    Some("""SELECT l_returnflag,
                   round(corr(l_quantity, l_extendedprice), 4) AS corr_qp,
                   round(stddev_samp(l_quantity), 4) AS sd_qty,
                   round(covar_samp(l_quantity, l_extendedprice), 0) AS cov_qp
            FROM lineitem GROUP BY 1 ORDER BY l_returnflag"""),
  )

  /** uniq = HyperLogLog approximate distinct. Approximate by design →
    * no SQL oracle; the driver records a rows-only check. Exactness is
    * cross-checked against uniqExact in GraftSpec. */
  val q26 = GraftQuery(
    "q26_uniq_approx",
    (s, dir) => Tables(s, dir).events
      .groupBy(col("event_type"))
      .agg(ch.uniq(col("user_id")).as("uniq_users"),
           ch.uniqExact(col("user_id")).as("exact_users"))
      .orderBy(col("event_type")),
    None,
  )

  /** -If combinator family over weekly buckets. */
  val q27 = GraftQuery(
    "q27_if_combinators",
    (s, dir) => Tables(s, dir).events
      .groupBy(ch.toStartOfWeek(col("ts")).as("week"))
      .agg(ch.countIf(col("event_type") === "purchase").as("purchases"),
           round(ch.sumIf(col("value"), col("event_type") === "purchase"), 2).as("purchase_value"),
           round(ch.avgIf(col("value"), col("event_type") === "click"), 4).as("avg_click_value"),
           round(ch.maxIf(col("value"), col("event_type") === "view"), 2).as("max_view_value"))
      .orderBy(col("week")),
    Some("""SELECT date_trunc('week', ts + INTERVAL 1 DAY) - INTERVAL 1 DAY AS week,
                   count(*) FILTER (WHERE event_type = 'purchase') AS purchases,
                   round(coalesce(sum(value) FILTER (WHERE event_type = 'purchase'), 0), 2) AS purchase_value,
                   round(avg(value) FILTER (WHERE event_type = 'click'), 4) AS avg_click_value,
                   round(max(value) FILTER (WHERE event_type = 'view'), 2) AS max_view_value
            FROM events GROUP BY 1 ORDER BY week"""),
  )

  /** Aggregate-combinator families: -Distinct (forced DISTINCT on the
    * native aggregate), -OrNull (NULL on an empty set — exercised with
    * a predicate false on every row so the result is sf-independent),
    * -OrDefault (numeric zero default), plus any (first-value, pinned
    * deterministic by aggregating a group-constant column) and
    * anyHeavy (Mode — the l_linenumber distribution has a unique mode
    * at every scale factor, so the oracle's mode() agrees). */
  val q21b = GraftQuery(
    "q21b_combinators",
    (s, dir) => {
      Tables(s, dir).lineitem.createOrReplaceTempView("lineitem_cb")
      s.sql("""SELECT l_returnflag,
                      round(sumDistinct(l_quantity), 2) AS sd,
                      round(avgDistinct(l_quantity), 4) AS ad,
                      CAST(countDistinct(l_suppkey) AS BIGINT) AS cd,
                      any(l_returnflag) AS a_flag,
                      CAST(anyHeavy(l_linenumber) AS BIGINT) AS heavy_ln,
                      CAST(countOrNull(CASE WHEN l_quantity < 0 THEN 1 END) AS BIGINT) AS c_null,
                      round(sumOrNull(CASE WHEN l_quantity < 0 THEN l_quantity END), 2) AS s_null,
                      round(sumOrDefault(CASE WHEN l_quantity < 0 THEN l_quantity END), 2) AS s_def,
                      round(maxOrDefault(CASE WHEN l_quantity < 0 THEN l_quantity END), 2) AS m_def
               FROM lineitem_cb GROUP BY l_returnflag ORDER BY l_returnflag""")
    },
    Some("""SELECT l_returnflag,
                   round(sum(DISTINCT l_quantity), 2) AS sd,
                   round(avg(DISTINCT l_quantity), 4) AS ad,
                   CAST(count(DISTINCT l_suppkey) AS BIGINT) AS cd,
                   l_returnflag AS a_flag,
                   CAST(mode(l_linenumber) AS BIGINT) AS heavy_ln,
                   CAST(NULLIF(count(CASE WHEN l_quantity < 0 THEN 1 END), 0) AS BIGINT) AS c_null,
                   round(sum(CASE WHEN l_quantity < 0 THEN l_quantity END), 2) AS s_null,
                   round(coalesce(sum(CASE WHEN l_quantity < 0 THEN l_quantity END), 0), 2) AS s_def,
                   round(coalesce(max(CASE WHEN l_quantity < 0 THEN l_quantity END), 0), 2) AS m_def
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
  )

  /** -ForEach combinator: element-wise aggregation across the group's
    * arrays (result[i] = agg over every row's i-th element), riding on
    * the sumMap position-keyed state. Rows alternate 2- and 3-element
    * arrays so the tail position genuinely aggregates a subset; the
    * oracle rebuilds each position with conditional aggregates. */
  val q27f = GraftQuery(
    "q27f_foreach",
    (s, dir) => {
      Tables(s, dir).lineitem.createOrReplaceTempView("lineitem_fe")
      s.sql("""SELECT l_returnflag,
                      arrayStringConcat(arrayMap(x -> toString(x), sumForEach(arr)), ',') AS sfe,
                      arrayStringConcat(arrayMap(x -> toString(x), minForEach(arr)), ',') AS mnfe,
                      arrayStringConcat(arrayMap(x -> toString(x), maxForEach(arr)), ',') AS mxfe,
                      arrayStringConcat(arrayMap(x -> toString(x), countForEach(arr)), ',') AS cfe,
                      arrayStringConcat(arrayMap(x -> toString(round(x, 4)), avgForEach(arr)), ',') AS afe
               FROM (SELECT l_returnflag,
                            CASE WHEN l_linenumber % 2 = 0
                                 THEN array(CAST(l_quantity AS BIGINT), CAST(l_linenumber AS BIGINT), CAST(l_suppkey AS BIGINT))
                                 ELSE array(CAST(l_quantity AS BIGINT), CAST(l_linenumber AS BIGINT)) END AS arr
                     FROM lineitem_fe WHERE l_orderkey <= 1000) t
               GROUP BY l_returnflag ORDER BY l_returnflag""")
    },
    Some("""SELECT l_returnflag,
                   concat(CAST(sum(q) AS VARCHAR), ',', CAST(sum(ln) AS VARCHAR), ',', CAST(sum(CASE WHEN ev THEN sk END) AS VARCHAR)) AS sfe,
                   concat(CAST(min(q) AS VARCHAR), ',', CAST(min(ln) AS VARCHAR), ',', CAST(min(CASE WHEN ev THEN sk END) AS VARCHAR)) AS mnfe,
                   concat(CAST(max(q) AS VARCHAR), ',', CAST(max(ln) AS VARCHAR), ',', CAST(max(CASE WHEN ev THEN sk END) AS VARCHAR)) AS mxfe,
                   concat(CAST(count(*) AS VARCHAR), ',', CAST(count(*) AS VARCHAR), ',', CAST(count(CASE WHEN ev THEN 1 END) AS VARCHAR)) AS cfe,
                   concat(CAST(round(avg(q), 4) AS VARCHAR), ',', CAST(round(avg(ln), 4) AS VARCHAR), ',', CAST(round(avg(CASE WHEN ev THEN sk END), 4) AS VARCHAR)) AS afe
            FROM (SELECT l_returnflag,
                         CAST(l_quantity AS BIGINT) AS q,
                         CAST(l_linenumber AS BIGINT) AS ln,
                         CAST(l_suppkey AS BIGINT) AS sk,
                         l_linenumber % 2 = 0 AS ev
                  FROM lineitem WHERE l_orderkey <= 1000) t
            GROUP BY l_returnflag ORDER BY l_returnflag"""),
  )

  /** -Resample combinator in its parametric CH spelling: one value per
    * [start, end) step-bucket of the resampling key, empty buckets 0.
    * l_linenumber buckets as {1,2},{3,4},{5,6},{7} under (1, 8, 2) —
    * the oracle rebuilds each bucket with conditional aggregates. */
  val q27g = GraftQuery(
    "q27g_resample",
    (s, dir) => {
      Tables(s, dir).lineitem.createOrReplaceTempView("lineitem_rs")
      s.sql("""SELECT l_returnflag,
                      arrayStringConcat(arrayMap(x -> toString(x), countResample(1, 8, 2)(l_linenumber)), ',') AS cnts,
                      arrayStringConcat(arrayMap(x -> toString(x), sumResample(1, 8, 2)(CAST(l_quantity AS BIGINT), l_linenumber)), ',') AS sums,
                      arrayStringConcat(arrayMap(x -> toString(round(x, 4)), avgResample(1, 8, 2)(CAST(l_quantity AS BIGINT), l_linenumber)), ',') AS avgs
               FROM lineitem_rs GROUP BY l_returnflag ORDER BY l_returnflag""")
    },
    Some("""SELECT l_returnflag,
                   concat(CAST(count(CASE WHEN b = 0 THEN 1 END) AS VARCHAR), ',',
                          CAST(count(CASE WHEN b = 1 THEN 1 END) AS VARCHAR), ',',
                          CAST(count(CASE WHEN b = 2 THEN 1 END) AS VARCHAR), ',',
                          CAST(count(CASE WHEN b = 3 THEN 1 END) AS VARCHAR)) AS cnts,
                   concat(CAST(coalesce(sum(CASE WHEN b = 0 THEN q END), 0) AS VARCHAR), ',',
                          CAST(coalesce(sum(CASE WHEN b = 1 THEN q END), 0) AS VARCHAR), ',',
                          CAST(coalesce(sum(CASE WHEN b = 2 THEN q END), 0) AS VARCHAR), ',',
                          CAST(coalesce(sum(CASE WHEN b = 3 THEN q END), 0) AS VARCHAR)) AS sums,
                   concat(CAST(round(avg(CASE WHEN b = 0 THEN q END), 4) AS VARCHAR), ',',
                          CAST(round(avg(CASE WHEN b = 1 THEN q END), 4) AS VARCHAR), ',',
                          CAST(round(avg(CASE WHEN b = 2 THEN q END), 4) AS VARCHAR), ',',
                          CAST(round(avg(CASE WHEN b = 3 THEN q END), 4) AS VARCHAR)) AS avgs
            FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q,
                         (l_linenumber - 1) // 2 AS b
                  FROM lineitem) t
            GROUP BY l_returnflag ORDER BY l_returnflag"""),
  )

  /** Set operations, CTEs and the GLOBAL distributed-query hints run
    * VERBATIM: `WITH … INTERSECT … EXCEPT` share Spark's grammar, and
    * ChSqlParser strips `GLOBAL` ahead of IN/JOIN (a shard-shipping
    * hint that Spark's broadcast planning already subsumes). The
    * oracle is the same query minus GLOBAL. */
  val q29g = GraftQuery(
    "q29g_setops",
    (s, dir) => {
      Tables(s, dir).orders.createOrReplaceTempView("orders_so")
      Tables(s, dir).customer.createOrReplaceTempView("customer_so")
      s.sql("""WITH big AS (SELECT o_custkey FROM orders_so WHERE o_totalprice > 200000),
                    recent AS (SELECT o_custkey FROM orders_so WHERE o_orderdate >= DATE '1997-01-01')
               SELECT c_custkey, c_name
               FROM customer_so
               WHERE c_custkey GLOBAL IN (SELECT o_custkey FROM big
                                          INTERSECT
                                          SELECT o_custkey FROM recent)
                 AND c_custkey NOT IN (SELECT o_custkey FROM orders_so WHERE o_orderstatus = 'F'
                                       EXCEPT
                                       SELECT o_custkey FROM recent)
               ORDER BY c_custkey""")
    },
    Some("""WITH big AS (SELECT o_custkey FROM orders WHERE o_totalprice > 200000),
                 recent AS (SELECT o_custkey FROM orders WHERE o_orderdate >= DATE '1997-01-01')
            SELECT c_custkey, c_name
            FROM customer
            WHERE c_custkey IN (SELECT o_custkey FROM big
                                INTERSECT
                                SELECT o_custkey FROM recent)
              AND c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
                                    EXCEPT
                                    SELECT o_custkey FROM recent)
            ORDER BY c_custkey"""),
  )

  /** quantileInterpolatedWeighted (percentile_cont over the
    * weight-expanded multiset, computed on cumulative weights — see
    * [[graft.plans.GraftQuantileInterpolatedWeighted]]) and
    * quantileBFloat16 (exact interpolated quantile over bit-exact
    * bfloat16-truncated float32s, [[graft.plans.Bfloat16Truncate]] —
    * deterministic where CH's histogram variant is approximate). The
    * oracle rebuilds the expanded-index bracketing with window
    * cumsums and replays the upper-16-bit truncation numerically
    * (floor(|x|/2^(e−7))·2^(e−7), e = floor(log2|x|)) before
    * quantile_cont. quantileGK rides Spark's native GK sketch —
    * rank-error-bounded, so it's spec-pinned, not oracled. */
  val q22e = GraftQuery(
    "q22e_quantile_variants",
    (s, dir) => {
      Tables(s, dir).lineitem.createOrReplaceTempView("lineitem_qv")
      s.sql("""SELECT l_returnflag,
                      round(quantileInterpolatedWeighted(0.5)(l_quantity, l_linenumber), 6) AS iw_med,
                      round(quantileInterpolatedWeighted(0.9)(l_quantity, l_linenumber), 6) AS iw_p90,
                      round(quantileBFloat16(0.5)(l_extendedprice), 4) AS bf_med,
                      round(quantileBFloat16(0.25)(l_extendedprice), 4) AS bf_p25
               FROM lineitem_qv GROUP BY l_returnflag ORDER BY l_returnflag""")
    },
    Some("""WITH w AS (SELECT l_returnflag AS rf, CAST(l_quantity AS DOUBLE) AS v,
                              CAST(l_linenumber AS BIGINT) AS wt
                       FROM lineitem),
                 agg AS (SELECT rf, v, sum(wt) AS wt FROM w GROUP BY rf, v),
                 c AS (SELECT rf, v, wt,
                              sum(wt) OVER (PARTITION BY rf ORDER BY v) AS cum,
                              sum(wt) OVER (PARTITION BY rf) AS s
                       FROM agg),
                 hp AS (SELECT rf, q, q*(s-1) AS h, floor(q*(s-1)) AS k
                        FROM (SELECT DISTINCT rf, s FROM c) p
                        CROSS JOIN (VALUES (0.5), (0.9)) lv(q)),
                 lo AS (SELECT hp.rf, hp.q, min(c.v) AS vlo
                        FROM c JOIN hp ON c.rf = hp.rf AND c.cum > hp.k GROUP BY hp.rf, hp.q),
                 hi AS (SELECT hp.rf, hp.q, min(c.v) AS vhi
                        FROM c JOIN hp ON c.rf = hp.rf AND c.cum > hp.k + 1 GROUP BY hp.rf, hp.q),
                 iw AS (SELECT hp.rf, hp.q,
                               lo.vlo + (hp.h - hp.k) * (coalesce(hi.vhi, lo.vlo) - lo.vlo) AS val
                        FROM hp JOIN lo ON hp.rf = lo.rf AND hp.q = lo.q
                        LEFT JOIN hi ON hp.rf = hi.rf AND hp.q = hi.q),
                 bt AS (SELECT l_returnflag AS rf,
                               CASE WHEN xf = 0 THEN 0.0
                                    ELSE sign(xf) * floor(abs(xf) / pow(2, floor(log2(abs(xf))) - 7))
                                         * pow(2, floor(log2(abs(xf))) - 7) END AS b
                        FROM (SELECT l_returnflag, CAST(CAST(l_extendedprice AS REAL) AS DOUBLE) AS xf
                              FROM lineitem) fx),
                 bq AS (SELECT rf, quantile_cont(b, 0.5) AS bf_med, quantile_cont(b, 0.25) AS bf_p25
                        FROM bt GROUP BY rf)
            SELECT i.rf AS l_returnflag,
                   round(max(CASE WHEN i.q = 0.5 THEN i.val END), 6) AS iw_med,
                   round(max(CASE WHEN i.q = 0.9 THEN i.val END), 6) AS iw_p90,
                   round(max(b.bf_med), 4) AS bf_med,
                   round(max(b.bf_p25), 4) AS bf_p25
            FROM iw i JOIN bq b ON i.rf = b.rf
            GROUP BY i.rf ORDER BY l_returnflag"""),
  )

  /** Discrete exact-quantile selectors (quantileExactLow/High — the
    * never-interpolating variants), groupArraySorted(n) and the
    * *Stable / sumWithOverflow aliases. The oracle rebuilds the
    * nearest-rank indexes over DuckDB's sorted lists. */
  val q22d = GraftQuery(
    "q22d_exact_variants",
    (s, dir) => {
      Tables(s, dir).lineitem.createOrReplaceTempView("lineitem_eq")
      s.sql("""SELECT l_returnflag,
                      round(quantileExactLow(0.5)(l_quantity), 2) AS q_low,
                      round(quantileExactHigh(0.5)(l_quantity), 2) AS q_high,
                      round(quantileExactLow(0.25)(l_quantity), 2) AS q1_low,
                      arrayStringConcat(arrayMap(x -> toString(x),
                        groupArraySorted(5)(CAST(l_quantity AS BIGINT))), ',') AS first5,
                      round(sumWithOverflow(l_quantity), 2) AS s,
                      round(stddevPopStable(l_quantity), 4) AS sd
               FROM lineitem_eq WHERE l_orderkey <= 2000
               GROUP BY l_returnflag ORDER BY l_returnflag""")
    },
    Some("""WITH g AS (SELECT l_returnflag,
                              list_sort(list(l_quantity)) AS arr,
                              list_sort(list(CAST(l_quantity AS BIGINT))) AS arrb,
                              round(sum(l_quantity), 2) AS s,
                              round(stddev_pop(l_quantity), 4) AS sd
                       FROM lineitem WHERE l_orderkey <= 2000 GROUP BY 1)
            SELECT l_returnflag,
                   round(arr[CAST(floor(0.5 * (len(arr) - 1)) AS INT) + 1], 2) AS q_low,
                   round(arr[CAST(ceil(0.5 * (len(arr) - 1)) AS INT) + 1], 2) AS q_high,
                   round(arr[CAST(floor(0.25 * (len(arr) - 1)) AS INT) + 1], 2) AS q1_low,
                   array_to_string(list_slice(arrb, 1, 5), ',') AS first5,
                   s, sd
            FROM g ORDER BY l_returnflag"""),
  )

  /** ClickHouse's scalar WITH — `WITH <expr> AS <ident> SELECT …`
    * names a per-query constant (NOT a CTE). ChSqlParser substitutes
    * each ident as (expr) through the body; real CTEs are untouched
    * (q29g proves those separately). */
  val q29i = GraftQuery(
    "q29i_scalar_with",
    (s, dir) => {
      Tables(s, dir).orders.createOrReplaceTempView("orders_sw")
      s.sql("""WITH toYear(DATE '1995-06-15') AS yr, 5 AS topn
               SELECT o_orderpriority, count(*) AS cnt
               FROM orders_sw
               WHERE toYear(o_orderdate) = yr
               GROUP BY o_orderpriority
               ORDER BY o_orderpriority
               LIMIT topn""")
    },
    Some("""SELECT o_orderpriority, count(*) AS cnt
            FROM orders WHERE year(o_orderdate) = 1995
            GROUP BY o_orderpriority ORDER BY o_orderpriority LIMIT 5"""),
  )

  /** Forgiving-conversion family (toInt64OrNull/OrZero,
    * toFloat64OrNull, toDateOrNull — Spark TRY casts) over inputs
    * that genuinely fail to parse, plus ISO week/year, the
    * toRelative*Num epoch indexes and timeSlot half-hour buckets. */
  val q28h = GraftQuery(
    "q28h_conversions",
    (s, dir) => {
      Tables(s, dir).orders.createOrReplaceTempView("orders_cv")
      s.sql("""SELECT o_orderkey,
                      CAST(toInt64OrNull(s_num) AS BIGINT) AS n_or_null,
                      CAST(toInt64OrZero(s_num) AS BIGINT) AS n_or_zero,
                      round(toFloat64OrNull(s_float), 2) AS f_or_null,
                      toDateOrNull(s_date) AS d_or_null,
                      CAST(toISOWeek(o_orderdate) AS INT) AS iso_w,
                      CAST(toISOYear(o_orderdate) AS INT) AS iso_y,
                      CAST(toRelativeDayNum(o_orderdate) AS INT) AS day_num,
                      CAST(toRelativeHourNum(o_orderdate) AS BIGINT) AS hour_num,
                      timeSlot(o_orderdate) AS slot,
                      CAST(age('month', o_orderdate, TIMESTAMP '1998-12-01 00:00:00') AS BIGINT) AS age_m,
                      CAST(age('day', o_orderdate, TIMESTAMP '1998-12-01 00:00:00') AS BIGINT) AS age_d
               FROM (SELECT o_orderkey, o_orderdate,
                            CASE WHEN o_orderkey % 3 = 0 THEN 'x'
                                 ELSE CAST(o_orderkey AS STRING) END AS s_num,
                            CASE WHEN o_orderkey % 4 = 0 THEN 'oops' ELSE '3.14' END AS s_float,
                            CASE WHEN o_orderkey % 5 = 0 THEN 'nope'
                                 ELSE CAST(CAST(o_orderdate AS DATE) AS STRING) END AS s_date
                     FROM orders_cv WHERE o_orderkey <= 2000) t
               ORDER BY o_orderkey""")
    },
    Some("""SELECT o_orderkey,
                   CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE o_orderkey END AS n_or_null,
                   CASE WHEN o_orderkey % 3 = 0 THEN 0 ELSE o_orderkey END AS n_or_zero,
                   CASE WHEN o_orderkey % 4 = 0 THEN NULL ELSE 3.14 END AS f_or_null,
                   CASE WHEN o_orderkey % 5 = 0 THEN NULL
                        ELSE CAST(o_orderdate AS DATE) END AS d_or_null,
                   CAST(weekofyear(o_orderdate) AS INT) AS iso_w,
                   CAST(isoyear(o_orderdate) AS INT) AS iso_y,
                   CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS INT) AS day_num,
                   CAST(epoch(o_orderdate) // 3600 AS BIGINT) AS hour_num,
                   CAST(to_timestamp(epoch(o_orderdate) // 1800 * 1800) AS TIMESTAMP) AS slot,
                   CAST((1998 * 12 + 12) - (year(o_orderdate) * 12 + month(o_orderdate))
                        - CASE WHEN day(o_orderdate) > 1 THEN 1 ELSE 0 END AS BIGINT) AS age_m,
                   CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-01') AS BIGINT) AS age_d
            FROM orders WHERE o_orderkey <= 2000
            ORDER BY o_orderkey"""),
  )

  /** Geo family over synthesized coordinates (exact 2-decimal
    * lon/lat derived from order columns): geohash encode→decode
    * round-trips within the precision-12 cell (~4 cm, so rounding
    * back to 2 decimals is exact), pointInPolygon tests a rectangle
    * replayed as CASE bounds, and greatCircleDistance's haversine is
    * replayed with DuckDB trig at the same 6371 km radius. */
  val q28i = GraftQuery(
    "q28i_geo",
    (s, dir) => {
      Tables(s, dir).orders.createOrReplaceTempView("orders_geo")
      s.sql("""SELECT o_orderkey,
                      round(geohashDecode(geohashEncode(lon, lat, 12)).longitude, 2) AS lon_rt,
                      round(geohashDecode(geohashEncode(lon, lat, 12)).latitude, 2) AS lat_rt,
                      CAST(pointInPolygon((lon, lat),
                             array((-50.0, -30.0), (50.0, -30.0), (50.0, 30.0), (-50.0, 30.0))) AS INT) AS in_box,
                      CAST(round(greatCircleDistance(0.0, 0.0, lon, lat), 0) AS BIGINT) AS dist_m
               FROM (SELECT o_orderkey,
                            CAST(o_orderkey % 360 - 180 AS DOUBLE) + CAST(o_orderkey % 97 AS DOUBLE) / 100.0 AS lon,
                            CAST(o_orderkey % 170 - 85 AS DOUBLE) + CAST(o_orderkey % 89 AS DOUBLE) / 100.0 AS lat
                     FROM orders_geo WHERE o_orderkey <= 2000) t
               ORDER BY o_orderkey""")
    },
    Some("""WITH t AS (SELECT o_orderkey,
                              CAST(o_orderkey % 360 - 180 AS DOUBLE) + CAST(o_orderkey % 97 AS DOUBLE) / 100.0 AS lon,
                              CAST(o_orderkey % 170 - 85 AS DOUBLE) + CAST(o_orderkey % 89 AS DOUBLE) / 100.0 AS lat
                       FROM orders WHERE o_orderkey <= 2000)
            SELECT o_orderkey,
                   round(lon, 2) AS lon_rt,
                   round(lat, 2) AS lat_rt,
                   CASE WHEN lon > -50 AND lon < 50 AND lat > -30 AND lat < 30 THEN 1 ELSE 0 END AS in_box,
                   CAST(round(2 * 6371000.0 * asin(sqrt(
                          pow(sin(radians(lat) / 2), 2)
                          + cos(0) * cos(radians(lat)) * pow(sin(radians(lon) / 2), 2))), 0) AS BIGINT) AS dist_m
            FROM t ORDER BY o_orderkey"""),
  )

  /** ClickHouse bitmap family: a bitmap is a sorted distinct
    * `array<bigint>` (Roaring is a storage codec, not semantics), so
    * the scalar algebra maps to codegen'd array expressions and the
    * group folds ride [[graft.plans.BitmapFoldAgg]] — a set-fold
    * TypedImperativeAggregate whose buffer dedups eagerly
    * (O(distinct) per group, map-side partial merge; strictly
    * smaller than collecting inputs). The oracle replays the set
    * algebra with DuckDB list functions and derives the group folds
    * from element-level membership counts (and = in every bucket,
    * xor = odd-membership), so every output is value-checked. */
  val q28j = GraftQuery(
    "q28j_bitmap",
    (s, dir) => {
      Tables(s, dir).orders.createOrReplaceTempView("orders_bm")
      s.sql("""WITH s AS (SELECT o_orderpriority AS prio, o_custkey % 4 AS b,
                                 groupBitmapState(o_orderkey % 997) AS bm
                          FROM orders_bm GROUP BY 1, 2),
                    folds AS (SELECT prio, groupBitmapOr(bm) AS or_card,
                                     groupBitmapAnd(bm) AS and_card,
                                     groupBitmapXor(bm) AS xor_card
                              FROM s GROUP BY prio),
                    lo AS (SELECT prio, bm FROM s WHERE b = 0),
                    hi AS (SELECT prio, bm FROM s WHERE b = 1)
               SELECT f.prio AS prio, f.or_card, f.and_card, f.xor_card,
                      bitmapCardinality(lo.bm) AS lo_card,
                      bitmapAndCardinality(lo.bm, hi.bm) AS pair_and,
                      bitmapOrCardinality(lo.bm, hi.bm) AS pair_or,
                      bitmapXorCardinality(lo.bm, hi.bm) AS pair_xor,
                      bitmapAndnotCardinality(lo.bm, hi.bm) AS pair_andnot,
                      bitmapHasAll(lo.bm, bitmapAnd(lo.bm, hi.bm)) AS has_sub,
                      bitmapHasAny(lo.bm, hi.bm) AS overlaps,
                      bitmapContains(lo.bm, bitmapMin(lo.bm)) AS has_min,
                      bitmapMin(lo.bm) AS mn, bitmapMax(lo.bm) AS mx,
                      bitmapCardinality(bitmapSubsetInRange(lo.bm, 10, 50)) AS mid_card,
                      arrayStringConcat(arrayMap(x -> toString(x), bitmapToArray(subBitmap(lo.bm, 2, 3))), ',') AS sub3
               FROM folds f JOIN lo ON f.prio = lo.prio JOIN hi ON f.prio = hi.prio
               ORDER BY prio""")
    },
    Some("""WITH base AS (SELECT o_orderpriority AS prio, o_custkey % 4 AS b,
                                 o_orderkey % 997 AS x
                          FROM orders),
                 s AS (SELECT prio, b, list_sort(list_distinct(list(x))) AS bm
                       FROM base GROUP BY prio, b),
                 memb AS (SELECT prio, x, count(DISTINCT b) AS nb FROM base GROUP BY prio, x),
                 nb AS (SELECT prio, count(DISTINCT b) AS tb FROM base GROUP BY prio),
                 folds AS (SELECT m.prio,
                                  count(*) AS or_card,
                                  count(*) FILTER (WHERE m.nb = n.tb) AS and_card,
                                  count(*) FILTER (WHERE m.nb % 2 = 1) AS xor_card
                           FROM memb m JOIN nb n ON m.prio = n.prio GROUP BY m.prio),
                 lo AS (SELECT prio, bm FROM s WHERE b = 0),
                 hi AS (SELECT prio, bm FROM s WHERE b = 1)
            SELECT f.prio AS prio, f.or_card, f.and_card, f.xor_card,
                   len(lo.bm) AS lo_card,
                   len(list_intersect(lo.bm, hi.bm)) AS pair_and,
                   len(list_distinct(list_concat(lo.bm, hi.bm))) AS pair_or,
                   len(list_distinct(list_concat(lo.bm, hi.bm))) - len(list_intersect(lo.bm, hi.bm)) AS pair_xor,
                   len(lo.bm) - len(list_intersect(lo.bm, hi.bm)) AS pair_andnot,
                   list_has_all(lo.bm, list_intersect(lo.bm, hi.bm)) AS has_sub,
                   list_has_any(lo.bm, hi.bm) AS overlaps,
                   list_contains(lo.bm, list_min(lo.bm)) AS has_min,
                   list_min(lo.bm) AS mn, list_max(lo.bm) AS mx,
                   len(list_filter(lo.bm, x -> x >= 10 AND x < 50)) AS mid_card,
                   array_to_string(lo.bm[3:5], ',') AS sub3
            FROM folds f JOIN lo ON f.prio = lo.prio JOIN hi ON f.prio = hi.prio
            ORDER BY prio"""),
  )

  /** Bit/integer/IP long tail, hash-verified: gcd/lcm (native codegen
    * kernels), bitmaskToArray/bitPositionsToArray (set-bit
    * decompositions as pure array expressions), byteSwap
    * (Long.reverseBytes under codegen), the IPv4 validation/CIDR
    * helpers (pure bit math on the dotted-quad value) and the legacy
    * simpleJSON flat-scan spellings. The oracle replays each: DuckDB
    * ships gcd/lcm natively, the bit decompositions rebuild with
    * list_filter/list_transform, byteSwap as an 8-term byte sum, and
    * the CIDR bounds with the same mask arithmetic. */
  val q28k = GraftQuery(
    "q28k_bits_ip",
    (s, dir) => {
      Tables(s, dir).orders.createOrReplaceTempView("orders_bt")
      s.sql("""WITH b AS (SELECT o_orderkey AS k,
                                 concat_ws('.', CAST(o_orderkey % 256 AS STRING), '10', '20', '30') AS ip
                          FROM orders_bt WHERE o_orderkey < 400)
               SELECT k,
                      gcd(k, 36) AS g,
                      lcm(k % 12 + 1, 8) AS l,
                      arrayStringConcat(arrayMap(x -> toString(x), bitmaskToArray(k % 64)), ',') AS bma,
                      arrayStringConcat(arrayMap(x -> toString(x), bitPositionsToArray(k % 64)), ',') AS bpa,
                      byteSwap(k % 128) AS bsw,
                      isIPv4String(ip) AS ok4,
                      ipv4CIDRToRange(ip, 26).col1 AS cidr_lo,
                      ipv4CIDRToRange(ip, 26).col2 AS cidr_hi,
                      isIPAddressInRange(ip, '128.0.0.0/1') AS top_half,
                      simpleJSONExtractInt(concat('{"v": ', CAST(k AS STRING), '}'), 'v') AS jv
               FROM b ORDER BY k""")
    },
    Some("""WITH b AS (SELECT o_orderkey AS k,
                              (o_orderkey % 256) * 16777216 + 10 * 65536 + 20 * 256 + 30 AS ipn
                       FROM orders WHERE o_orderkey < 400),
                 c AS (SELECT k, ipn,
                              (ipn // 16777216) % 256 AS oct1,
                              CAST(ipn AS BIGINT) & 4294967232 AS lo,
                              (CAST(ipn AS BIGINT) & 4294967232) | 63 AS hi
                       FROM b)
            SELECT k,
                   gcd(k, 36) AS g,
                   lcm(k % 12 + 1, 8) AS l,
                   COALESCE(array_to_string(list_transform(list_filter(generate_series(0, 62), i -> (CAST(k % 64 AS BIGINT) >> i) & 1 = 1),
                                                           i -> CAST(1 AS BIGINT) << i), ','), '') AS bma,
                   COALESCE(array_to_string(list_filter(generate_series(0, 63), i -> (CAST(k % 64 AS BIGINT) >> i) & 1 = 1), ','), '') AS bpa,
                   CAST(((k % 128) & 255) << 56 AS BIGINT)
                     + (((k % 128) >> 8) & 255) * 281474976710656 AS bsw,
                   true AS ok4,
                   concat_ws('.', CAST((lo // 16777216) % 256 AS VARCHAR), CAST((lo // 65536) % 256 AS VARCHAR),
                             CAST((lo // 256) % 256 AS VARCHAR), CAST(lo % 256 AS VARCHAR)) AS cidr_lo,
                   concat_ws('.', CAST((hi // 16777216) % 256 AS VARCHAR), CAST((hi // 65536) % 256 AS VARCHAR),
                             CAST((hi // 256) % 256 AS VARCHAR), CAST(hi % 256 AS VARCHAR)) AS cidr_hi,
                   oct1 >= 128 AS top_half,
                   k AS jv
            FROM c ORDER BY k"""),
  )

  /** Space-filling curves (round 14): mortonEncode/mortonDecode
    * (Z-order bit interleave, the range-scannable multidimensional
    * index trick) and hilbertEncode/hilbertDecode — CH-spelled,
    * codegen kernels (`graft.plans.MathKernels`). The oracle replays
    * Morton from first principles (per-bit shifts summed over
    * generate_series) and checks decode∘encode = identity for both
    * curves; Hilbert's 32-level rotate-accumulate loop is not
    * replayed value-by-value in SQL, so its encode value is pinned
    * through the CH doc example (hilbertEncode(3,4) = 31, a constant
    * both engines emit) plus the round-trip flags. Doc examples also
    * spec-pinned in DialectRound7eSpec. */
  val q28r = GraftQuery(
    "q28r_space_curves",
    (s, dir) => {
      Tables(s, dir).orders.createOrReplaceTempView("orders_sc")
      s.sql("""WITH b AS (SELECT o_orderkey AS k,
                                 CAST(o_orderkey * 37 % 1024 AS BIGINT) AS a,
                                 CAST(o_orderkey * 91 % 1024 AS BIGINT) AS bv,
                                 CAST(o_orderkey % 2097152 AS BIGINT) AS c
                          FROM orders_sc WHERE o_orderkey < 500)
               SELECT k,
                      mortonEncode(a, bv) AS m2,
                      mortonEncode(a, bv, c) AS m3,
                      mortonDecode(2, mortonEncode(a, bv)).col1 AS m2x,
                      mortonDecode(2, mortonEncode(a, bv)).col2 AS m2y,
                      CAST(mortonDecode(3, mortonEncode(a, bv, c)).col3 = c AS INT) AS m3_rt,
                      CAST(hilbertDecode(2, hilbertEncode(a, bv)).col1 = a AND
                           hilbertDecode(2, hilbertEncode(a, bv)).col2 = bv AS INT) AS h_rt,
                      hilbertEncode(3, 4) AS h34,
                      hilbertEncode(a) AS h1
               FROM b ORDER BY k""")
    },
    Some("""WITH b AS (SELECT o_orderkey AS k,
                              CAST(o_orderkey * 37 % 1024 AS BIGINT) AS a,
                              CAST(o_orderkey * 91 % 1024 AS BIGINT) AS bv,
                              CAST(o_orderkey % 2097152 AS BIGINT) AS c
                       FROM orders WHERE o_orderkey < 500)
            SELECT k,
                   (SELECT CAST(sum(((b.a >> j.j) & 1) * (CAST(1 AS BIGINT) << (2 * j.j))
                              + ((b.bv >> j.j) & 1) * (CAST(1 AS BIGINT) << (2 * j.j + 1))) AS BIGINT)
                    FROM generate_series(0, 9) j(j)) AS m2,
                   (SELECT CAST(sum(((b.a >> j.j) & 1) * (CAST(1 AS BIGINT) << (3 * j.j))
                              + ((b.bv >> j.j) & 1) * (CAST(1 AS BIGINT) << (3 * j.j + 1))
                              + ((b.c >> j.j) & 1) * (CAST(1 AS BIGINT) << (3 * j.j + 2))) AS BIGINT)
                    FROM generate_series(0, 20) j(j)) AS m3,
                   a AS m2x,
                   bv AS m2y,
                   1 AS m3_rt,
                   1 AS h_rt,
                   CAST(31 AS BIGINT) AS h34,
                   a AS h1
            FROM b ORDER BY k"""),
  )

  /** Date/time + string long tail, hash-verified over real event
    * timestamps: toStartOfInterval (µs-axis pmod buckets), toTime
    * (CH's 1970-01-02 anchor), Modified-Julian/days-since-year-zero
    * day indexes, snowflake-id round trip, makeDate, and the string
    * helpers (substringIndex, repeat, firstLine, XML escaping, HTML
    * text extraction). The oracle replays the µs arithmetic with
    * make_timestamp and the string forms with DuckDB equivalents. */
  val q28l = GraftQuery(
    "q28l_datetime_tail",
    (s, dir) => {
      Tables(s, dir).events.createOrReplaceTempView("events_dt")
      s.sql("""SELECT event_id AS k,
                      toStartOfInterval(ts, INTERVAL 15 MINUTE) AS b15,
                      toStartOfInterval(ts, INTERVAL 1 DAY) AS bday,
                      toTime(ts) AS tod,
                      addMilliseconds(ts, 1500) AS ams,
                      toModifiedJulianDay(CAST(ts AS DATE)) AS mjd,
                      toDaysSinceYearZero(CAST(ts AS DATE)) AS dy,
                      dateTimeToSnowflake(ts) AS snow,
                      makeDate(2024, CAST(event_id % 12 + 1 AS INT), 15) AS md,
                      firstLine(concat(event_type, '\n', 'tail')) AS fl,
                      substringIndex(event_type, 'i', 1) AS si,
                      repeat('ab', CAST(event_id % 3 AS INT)) AS rep,
                      encodeXMLComponent(concat('<', event_type, '>')) AS xml,
                      extractTextFromHTML(concat('<p>', event_type, ' <b>x</b></p>')) AS txt
               FROM events_dt WHERE event_id < 200 ORDER BY k""")
    },
    Some("""SELECT event_id AS k,
                   make_timestamp(epoch_us(ts) - epoch_us(ts) % 900000000) AS b15,
                   make_timestamp(epoch_us(ts) - epoch_us(ts) % 86400000000) AS bday,
                   make_timestamp(86400000000 + epoch_us(ts) % 86400000000) AS tod,
                   make_timestamp(epoch_us(ts) + 1500000) AS ams,
                   datediff('day', DATE '1858-11-17', CAST(ts AS DATE)) AS mjd,
                   datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) + 719528 AS dy,
                   ((epoch_us(ts) // 1000) - 1288834974657) << 22 AS snow,
                   make_date(2024, CAST(event_id % 12 + 1 AS INT), 15) AS md,
                   event_type AS fl,
                   split_part(event_type, 'i', 1) AS si,
                   repeat('ab', CAST(event_id % 3 AS INT)) AS rep,
                   replace(replace(concat('<', event_type, '>'), '<', '&lt;'), '>', '&gt;') AS xml,
                   concat(event_type, ' x') AS txt
            FROM events WHERE event_id < 200 ORDER BY k"""),
  )

  /** String-distance long tail over real document text: Jaro,
    * Jaro–Winkler (0.1/4-char/0.7-threshold Winkler variant),
    * unrestricted Damerau–Levenshtein, Levenshtein, byte Hamming —
    * consecutive-doc pairs on an ASCII-sanitized prefix so both
    * engines measure the same code units. DuckDB owns native
    * equivalents for all five, so this whole family is hash-checked,
    * not just spec-pinned. */
  val q28m = GraftQuery(
    "q28m_string_distance",
    (s, dir) => {
      Tables(s, dir).documents.createOrReplaceTempView("docs_sd")
      s.sql("""WITH d AS (SELECT doc_id,
                                 regexp_replace(lower(substring(text, 1, 24)), '[^a-z0-9 ]', '') AS s
                          FROM docs_sd WHERE doc_id < 300)
               SELECT a.doc_id AS k,
                      round(jaroSimilarity(a.s, b.s), 6) AS jaro,
                      round(jaroWinklerSimilarity(a.s, b.s), 6) AS jw,
                      damerauLevenshteinDistance(a.s, b.s) AS dl,
                      CAST(levenshteinDistance(a.s, b.s) AS BIGINT) AS lev,
                      byteHammingDistance(rightPad(a.s, 24, '.'), rightPad(b.s, 24, '.')) AS ham
               FROM d a JOIN d b ON b.doc_id = a.doc_id + 1
               ORDER BY k""")
    },
    Some("""WITH d AS (SELECT doc_id,
                              regexp_replace(lower(substr(text, 1, 24)), '[^a-z0-9 ]', '', 'g') AS s
                       FROM documents WHERE doc_id < 300)
            SELECT a.doc_id AS k,
                   round(jaro_similarity(a.s, b.s), 6) AS jaro,
                   round(jaro_winkler_similarity(a.s, b.s), 6) AS jw,
                   damerau_levenshtein(a.s, b.s) AS dl,
                   levenshtein(a.s, b.s) AS lev,
                   hamming(rpad(a.s, 24, '.'), rpad(b.s, 24, '.')) AS ham
            FROM d a JOIN d b ON b.doc_id = a.doc_id + 1
            ORDER BY k"""),
  )

  /** Multi-needle search + regex group extraction over document
    * text: multiSearchFirstPosition/FirstIndex/Any (leftmost-
    * occurrence contract), case-insensitive match counting, all-
    * matches group extraction (horizontal), first-match extraction —
    * every column replayed in DuckDB via instr/list lambdas/
    * regexp_extract_all. */
  val q28n = GraftQuery(
    "q28n_search_extract",
    (s, dir) => {
      Tables(s, dir).documents.createOrReplaceTempView("docs_se")
      s.sql("""WITH d AS (SELECT doc_id, lower(substring(text, 1, 64)) AS s
                          FROM docs_se WHERE doc_id < 250)
               SELECT doc_id AS k,
                      CAST(multiSearchFirstPosition(s, array('data', 'key', 'row')) AS BIGINT) AS fp,
                      multiSearchFirstIndex(s, array('data', 'key', 'row')) AS fi,
                      multiSearchAny(s, array('data', 'key', 'row')) AS any_hit,
                      countMatchesCaseInsensitive(s, 'the') AS cthe,
                      arrayStringConcat(extractAllGroupsHorizontal(s, '([a-z]{3})([a-z]+)')[0], ',') AS g1,
                      arrayStringConcat(extractAllGroupsHorizontal(s, '([a-z]{3})([a-z]+)')[1], ',') AS g2,
                      regexpExtract(s, '([a-z]{4,})', 1) AS firstlong
               FROM d ORDER BY k""")
    },
    Some("""WITH d AS (SELECT doc_id, lower(substr(text, 1, 64)) AS s
                       FROM documents WHERE doc_id < 250),
                 p AS (SELECT doc_id, s,
                              [instr(s, 'data'), instr(s, 'key'), instr(s, 'row')] AS pos
                       FROM d)
            SELECT doc_id AS k,
                   CAST(coalesce(list_min(list_filter(pos, x -> x > 0)), 0) AS BIGINT) AS fp,
                   CAST(CASE WHEN list_min(list_filter(pos, x -> x > 0)) IS NULL THEN 0
                        ELSE list_position(pos, list_min(list_filter(pos, x -> x > 0))) END AS BIGINT) AS fi,
                   (instr(s, 'data') > 0 OR instr(s, 'key') > 0 OR instr(s, 'row') > 0) AS any_hit,
                   CAST(length(regexp_extract_all(s, 'the', 0, 'i')) AS BIGINT) AS cthe,
                   array_to_string(regexp_extract_all(s, '([a-z]{3})([a-z]+)', 1), ',') AS g1,
                   array_to_string(regexp_extract_all(s, '([a-z]{3})([a-z]+)', 2), ',') AS g2,
                   regexp_extract(s, '([a-z]{4,})', 1) AS firstlong
            FROM p ORDER BY k"""),
  )

  /** URL long tail over four generated URL shapes (www + two-level
    * suffix + query + fragment; userinfo + explicit port; bare co.uk;
    * subdomain + root query): domainWithoutWWW, the
    * firstSignificantSubdomain pair, netloc, port,
    * queryStringAndFragment, cutWWW/cutFragment, both hierarchy
    * arrays and parameter-name extraction. The oracle replays each
    * expected value from the generating template per URL shape —
    * every output is a deterministic string function of (m, t, uid,
    * k), so the comparison is exact. */
  val q28o = GraftQuery(
    "q28o_url_tail",
    (s, dir) => {
      Tables(s, dir).events.createOrReplaceTempView("events_ut")
      s.sql("""SELECT domainWithoutWWW(url) AS host_nw,
                      firstSignificantSubdomain(url) AS fss,
                      cutToFirstSignificantSubdomain(url) AS cfss,
                      netloc(url) AS nl,
                      port(url) AS prt,
                      count(*) AS cnt,
                      max(queryStringAndFragment(url)) AS max_qf,
                      max(cutWWW(url)) AS max_cw,
                      max(cutFragment(url)) AS max_cf,
                      max(arrayStringConcat(URLHierarchy(url), ' ')) AS max_hier,
                      max(arrayStringConcat(URLPathHierarchy(url), ' ')) AS max_ph,
                      max(arrayStringConcat(extractURLParameterNames(url), ',')) AS pnames
               FROM (SELECT CASE modulo(event_id, 4)
                       WHEN 0 THEN concat('https://www.ex', toString(modulo(user_id, 3)), '.com.tr/a/b?uid=',
                                          toString(user_id), '&k=', toString(modulo(event_id, 7)), '#frag')
                       WHEN 1 THEN concat('http://user:pw@ex', toString(modulo(user_id, 3)), '.org:8080/p/q/r')
                       WHEN 2 THEN concat('https://ex', toString(modulo(user_id, 3)), '.co.uk/solo')
                       ELSE concat('https://sub.ex', toString(modulo(user_id, 3)), '.io/?a=1&b=2') END AS url
                     FROM events_ut) t
               GROUP BY 1, 2, 3, 4, 5 ORDER BY host_nw, nl""")
    },
    Some("""WITH b AS (SELECT user_id % 3 AS m, event_id % 4 AS t,
                              CAST(user_id AS VARCHAR) AS us,
                              CAST(event_id % 7 AS VARCHAR) AS ks
                       FROM events),
                 r AS (SELECT t, concat('ex', CAST(m AS VARCHAR)) AS ex, us, ks,
                              CASE t
                                WHEN 0 THEN concat('https://www.ex', CAST(m AS VARCHAR), '.com.tr/a/b?uid=', us, '&k=', ks, '#frag')
                                WHEN 1 THEN concat('http://user:pw@ex', CAST(m AS VARCHAR), '.org:8080/p/q/r')
                                WHEN 2 THEN concat('https://ex', CAST(m AS VARCHAR), '.co.uk/solo')
                                ELSE concat('https://sub.ex', CAST(m AS VARCHAR), '.io/?a=1&b=2') END AS url
                       FROM b),
                 x AS (SELECT t, ex, url,
                              CASE t WHEN 0 THEN concat(ex, '.com.tr') WHEN 1 THEN concat(ex, '.org')
                                     WHEN 2 THEN concat(ex, '.co.uk') ELSE concat('sub.', ex, '.io') END AS host_nw,
                              ex AS fss,
                              CASE t WHEN 0 THEN concat(ex, '.com.tr') WHEN 1 THEN concat(ex, '.org')
                                     WHEN 2 THEN concat(ex, '.co.uk') ELSE concat(ex, '.io') END AS cfss,
                              CASE t WHEN 0 THEN concat('www.', ex, '.com.tr') WHEN 1 THEN concat('user:pw@', ex, '.org:8080')
                                     WHEN 2 THEN concat(ex, '.co.uk') ELSE concat('sub.', ex, '.io') END AS nl,
                              CASE t WHEN 1 THEN 8080 ELSE 0 END AS prt,
                              CASE t WHEN 0 THEN concat('uid=', us, '&k=', ks, '#frag')
                                     WHEN 3 THEN 'a=1&b=2' ELSE '' END AS qf,
                              CASE t WHEN 0 THEN concat('https://', ex, '.com.tr/a/b?uid=', us, '&k=', ks, '#frag')
                                     ELSE url END AS cw,
                              CASE t WHEN 0 THEN concat('https://www.', ex, '.com.tr/a/b?uid=', us, '&k=', ks)
                                     ELSE url END AS cf,
                              CASE t
                                WHEN 0 THEN concat('https://www.', ex, '.com.tr/ https://www.', ex, '.com.tr/a/ https://www.', ex, '.com.tr/a/b? ', url)
                                WHEN 1 THEN concat('http://user:pw@', ex, '.org:8080/ http://user:pw@', ex, '.org:8080/p/ http://user:pw@', ex, '.org:8080/p/q/ ', url)
                                WHEN 2 THEN concat('https://', ex, '.co.uk/ ', url)
                                ELSE concat('https://sub.', ex, '.io/? ', url) END AS hier,
                              CASE t
                                WHEN 0 THEN concat('/a/ /a/b? /a/b?uid=', us, '&k=', ks, '#frag')
                                WHEN 1 THEN '/p/ /p/q/ /p/q/r'
                                WHEN 2 THEN '/solo'
                                ELSE '/? /?a=1&b=2' END AS ph,
                              CASE t WHEN 0 THEN 'uid,k' WHEN 3 THEN 'a,b' ELSE '' END AS pn
                       FROM r)
            SELECT host_nw, fss, cfss, nl, prt, count(*) AS cnt,
                   max(qf) AS max_qf, max(cw) AS max_cw, max(cf) AS max_cf,
                   max(hier) AS max_hier, max(ph) AS max_ph, max(pn) AS pnames
            FROM x GROUP BY 1, 2, 3, 4, 5 ORDER BY host_nw, nl"""),
  )

  /** Scalar long-tail sweep over generated values: MAC codec
    * round-trip text, countDigits, toDecimalString (eighth-steps, so
    * no cross-engine rounding ambiguity), parseTimeDelta replayed
    * from its generated spelling, token-bounded hasToken,
    * basename, scalar bit ops, min2. Every output is a deterministic
    * function of (event_id, event_type) the oracle recomputes
    * closed-form. */
  val q28q = GraftQuery(
    "q28q_scalar_tail",
    (s, dir) => {
      Tables(s, dir).events.createOrReplaceTempView("events_st")
      s.sql("""SELECT modulo(event_id, 8) AS g, count(*) AS cnt,
                      max(MACNumToString(modulo(event_id * 2654435761, 281474976710656))) AS mac,
                      CAST(max(countDigits(event_id + 1)) AS INT) AS cd,
                      max(toDecimalString(modulo(event_id, 1000) * 0.125, 3)) AS ds,
                      max(parseTimeDelta(concat(toString(modulo(event_id, 5)), 'd ',
                                                toString(modulo(event_id, 24)), 'h ',
                                                toString(modulo(event_id, 60)), 'min'))) AS td,
                      countIf(hasToken(CASE modulo(event_id, 3) WHEN 0 THEN 'pre tok post'
                                            WHEN 1 THEN 'pretok' ELSE 'tok' END, 'tok')) AS ht,
                      max(basename(concat('/x/', event_type))) AS bn,
                      max(bitAnd(event_id, 255)) AS ba,
                      max(bitXor(event_id, 170)) AS bx,
                      max(min2(modulo(event_id, 10), 5)) AS mn2
               FROM events_st GROUP BY 1 ORDER BY 1""")
    },
    Some("""WITH t AS (SELECT event_id, event_type,
                              (event_id * 2654435761) % 281474976710656 AS m48
                       FROM events)
            SELECT event_id % 8 AS g, count(*) AS cnt,
                   max(printf('%02x:%02x:%02x:%02x:%02x:%02x',
                       m48 // 1099511627776 % 256, m48 // 4294967296 % 256,
                       m48 // 16777216 % 256, m48 // 65536 % 256,
                       m48 // 256 % 256, m48 % 256)) AS mac,
                   CAST(max(length(CAST(event_id + 1 AS VARCHAR))) AS INTEGER) AS cd,
                   max(CAST(CAST((event_id % 1000) * 0.125 AS DECIMAL(38, 3)) AS VARCHAR)) AS ds,
                   max((event_id % 5) * 86400.0 + (event_id % 24) * 3600
                       + (event_id % 60) * 60) AS td,
                   CAST(sum(CASE WHEN event_id % 3 <> 1 THEN 1 ELSE 0 END) AS BIGINT) AS ht,
                   max(event_type) AS bn,
                   CAST(max(event_id & 255) AS BIGINT) AS ba,
                   CAST(max(xor(event_id, 170)) AS BIGINT) AS bx,
                   CAST(max(least(event_id % 10, 5)) AS DOUBLE) AS mn2
            FROM t GROUP BY 1 ORDER BY 1"""),
  )

  /** Datetime surgery over the orders dates: MySQL mode-0 weeks
    * (Sunday-start, week 0 before the first Sunday, year-carry in
    * toYearWeek), ISO mode 3, toLastDayOfWeek, changeDay
    * recomposition, quoted-unit dateAdd. The oracle rebuilds mode-0
    * week numbering from first principles in DuckDB (dayofweek
    * arithmetic + the Dec-31 prev-year anchor), so the whole week
    * convention is hash-checked, not just spec-pinned. */
  val q28p = GraftQuery(
    "q28p_datetime_surgery",
    (s, dir) => {
      Tables(s, dir).orders.createOrReplaceTempView("orders_ds")
      s.sql("""SELECT year(d) AS yr, count(*) AS cnt,
                      CAST(min(toWeek(d)) AS INT) AS wk0_min,
                      CAST(max(toWeek(d)) AS INT) AS wk0_max,
                      CAST(min(toYearWeek(d)) AS INT) AS yw0_min,
                      CAST(max(toYearWeek(d, 3)) AS INT) AS yw3_max,
                      max(toLastDayOfWeek(d)) AS last_dow,
                      max(changeDay(CAST(d AS TIMESTAMP), 15)) AS chg15,
                      min(dateAdd('quarter', 1, CAST(d AS TIMESTAMP))) AS qadd
               FROM (SELECT o_orderdate AS d FROM orders_ds) t
               GROUP BY 1 ORDER BY 1""")
    },
    Some("""WITH t AS (SELECT CAST(o_orderdate AS DATE) AS d FROM orders),
                 base AS (SELECT d, CAST(date_trunc('year', d) AS DATE) AS j1,
                                 CAST(date_trunc('year', d) AS DATE) - 1 AS pd,
                                 CAST(date_trunc('year', CAST(date_trunc('year', d) AS DATE) - 1) AS DATE) AS j1p
                          FROM t),
                 fs AS (SELECT d, pd,
                               j1 + CAST((7 - dayofweek(j1)) % 7 AS INTEGER) AS fsun,
                               j1p + CAST((7 - dayofweek(j1p)) % 7 AS INTEGER) AS fsunp
                        FROM base),
                 wk AS (SELECT d,
                               CASE WHEN d < fsun THEN 0
                                    ELSE CAST((d - fsun) // 7 + 1 AS INTEGER) END AS wk0,
                               CAST((pd - fsunp) // 7 + 1 AS INTEGER) AS wk0p,
                               year(pd) AS yprev
                        FROM fs),
                 vals AS (SELECT d, wk0,
                                 CASE WHEN wk0 = 0 THEN yprev * 100 + wk0p
                                      ELSE year(d) * 100 + wk0 END AS yw0,
                                 CAST(isoyear(d) * 100 + weekofyear(d) AS INTEGER) AS yw3,
                                 d + CAST((6 - isodow(d) + 7) % 7 AS INTEGER) AS last_dow,
                                 make_timestamp(year(d), month(d), 15, 0, 0, 0) AS chg15,
                                 CAST(d AS TIMESTAMP) + INTERVAL 3 MONTH AS qadd
                          FROM wk)
            SELECT year(d) AS yr, count(*) AS cnt,
                   CAST(min(wk0) AS INTEGER) AS wk0_min,
                   CAST(max(wk0) AS INTEGER) AS wk0_max,
                   CAST(min(yw0) AS INTEGER) AS yw0_min,
                   CAST(max(yw3) AS INTEGER) AS yw3_max,
                   max(last_dow) AS last_dow, max(chg15) AS chg15, min(qadd) AS qadd
            FROM vals GROUP BY 1 ORDER BY 1"""),
  )

  /** ClickHouse type names run verbatim inside CAST: Nullable(T)
    * unwraps, LowCardinality(String)/FixedString(n) → STRING, the
    * fixed-width numeric/DateTime names map to Spark equivalents
    * (unsigned widths widen a step). A trailing INTO OUTFILE also
    * strips, like FORMAT/SETTINGS. */
  val q29j = GraftQuery(
    "q29j_ch_types",
    (s, dir) => {
      Tables(s, dir).orders.createOrReplaceTempView("orders_ct")
      s.sql("""SELECT CAST(o_orderpriority AS LowCardinality(String)) AS prio,
                      CAST(count(*) AS UInt32) AS cnt,
                      round(CAST(avg(o_totalprice) AS Float64), 2) AS avg_p,
                      CAST(max(o_orderkey) AS Nullable(Int64)) AS mx,
                      CAST(min(o_orderkey) AS UInt16) AS mn,
                      CAST(max(o_orderdate) AS DateTime) AS latest
               FROM orders_ct
               GROUP BY o_orderpriority
               ORDER BY prio
               FORMAT CSV""")
      // (the INTO OUTFILE tail this query once carried now EXECUTES
      // as an export command — exercised by its own spec; this query
      // keeps the type zoo + the still-stripped FORMAT tail)
    },
    Some("""SELECT o_orderpriority AS prio,
                   CAST(count(*) AS BIGINT) AS cnt,
                   round(avg(o_totalprice), 2) AS avg_p,
                   CAST(max(o_orderkey) AS BIGINT) AS mx,
                   CAST(min(o_orderkey) AS INT) AS mn,
                   CAST(max(o_orderdate) AS TIMESTAMP) AS latest
            FROM orders GROUP BY 1 ORDER BY prio"""),
  )

  /** `LIMIT n WITH TIES` verbatim: every row tying with the n-th
    * row's sort key survives (rank() window wrap). The query selects
    * exactly the ORDER BY column so the output order is total — the
    * §5 determinism convention for a ties query. */
  val q29k = GraftQuery(
    "q29k_limit_ties",
    (s, dir) => {
      Tables(s, dir).orders.createOrReplaceTempView("orders_wt")
      s.sql("""SELECT bucket FROM (SELECT CAST(floor(o_totalprice / 20000) AS INT) AS bucket
                                   FROM orders_wt WHERE o_orderkey <= 500) t
               ORDER BY bucket LIMIT 10 WITH TIES""")
    },
    Some("""WITH t AS (SELECT CAST(floor(o_totalprice / 20000) AS INT) AS bucket
                       FROM orders WHERE o_orderkey <= 500),
                 k AS (SELECT bucket AS cut FROM t ORDER BY bucket LIMIT 1 OFFSET 9)
            SELECT bucket FROM t WHERE bucket <= (SELECT cut FROM k)
            ORDER BY bucket"""),
  )

  /** ANSI `OFFSET n ROWS FETCH NEXT m ROWS ONLY` (round 16) — the
    * standard pagination spelling CH accepts alongside LIMIT/OFFSET.
    * ChSqlParser strips the ROW/ROWS noise words and lowers FETCH
    * FIRST/NEXT to LIMIT (omitted count = 1 row, the standard's
    * default); `FETCH … WITH TIES` reshapes onto the q29k rank()
    * wrap. A unique ORDER BY key keeps the page deterministic. */
  val q29v = GraftQuery(
    "q29v_offset_fetch",
    (s, dir) => {
      Tables(s, dir).orders.createOrReplaceTempView("orders_of")
      s.sql("""SELECT o_orderkey, o_orderpriority FROM orders_of
               WHERE o_orderkey <= 2000
               ORDER BY o_orderkey
               OFFSET 10 ROWS FETCH NEXT 7 ROWS ONLY""")
    },
    Some("""SELECT o_orderkey, o_orderpriority FROM orders
            WHERE o_orderkey <= 2000
            ORDER BY o_orderkey LIMIT 7 OFFSET 10"""),
  )

  /** Client-side trailing clauses run verbatim: every ClickHouse
    * console/driver appends `FORMAT <name>`, and migrated queries
    * carry per-query `SETTINGS k = v` engine knobs — both are
    * execution/rendering hints with no semantic content, stripped
    * end-anchored by ChSqlParser (right to left, so the combined
    * `SETTINGS … FORMAT …` tail unwinds too). */
  val q29h = GraftQuery(
    "q29h_settings_format",
    (s, dir) => {
      Tables(s, dir).orders.createOrReplaceTempView("orders_sf")
      s.sql("""SELECT o_orderpriority, count(*) AS cnt,
                      round(sum(o_totalprice), 2) AS total
               FROM orders_sf
               GROUP BY o_orderpriority
               ORDER BY o_orderpriority
               SETTINGS max_threads = 8, max_memory_usage = 10000000000
               FORMAT PrettyCompact""")
    },
    Some("""SELECT o_orderpriority, count(*) AS cnt,
                   round(sum(o_totalprice), 2) AS total
            FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
  )

  /** The Map-data-type function family in CH spelling: construction,
    * key/value access, containment (exact + LIKE), element-wise
    * mapAdd/mapSubtract/mapUpdate, and the (k, v)-lambda family
    * (mapFilter/mapExtractKeyLike/mapExists/mapAll). Everything
    * resolves to native Spark map expressions (per-row, codegen'd —
    * no shuffle beyond the final sort); the oracle replays each op as
    * scalar arithmetic on the unpacked columns. */
  val q27d = GraftQuery(
    "q27d_map_funcs",
    (s, dir) => {
      Tables(s, dir).lineitem.createOrReplaceTempView("lineitem_mf")
      s.sql("""SELECT l_orderkey, l_linenumber,
                      arrayStringConcat(mapKeys(m), ',') AS ks,
                      round(arraySum(mapValues(m)), 2) AS vsum,
                      CAST(mapContains(m, 'tax') AS INT) AS has_tax,
                      CAST(mapContainsKeyLike(m, 'q%') AS INT) AS has_qlike,
                      round(element_at(mapAdd(m, map('qty', CAST(1.0 AS DOUBLE))), 'qty'), 2) AS qty_plus1,
                      round(element_at(mapSubtract(m, map('disc', CAST(0.01 AS DOUBLE))), 'disc'), 2) AS disc_minus,
                      round(element_at(mapUpdate(m, map('tax', CAST(9.99 AS DOUBLE))), 'tax'), 2) AS tax_upd,
                      arrayStringConcat(mapKeys(mapFilter((k, v) -> v > 0.03, m)), ',') AS big_keys,
                      arrayStringConcat(mapKeys(mapExtractKeyLike(m, '%is%')), ',') AS like_keys,
                      CAST(mapExists((k, v) -> k = 'disc' AND v > 0.05, m) AS INT) AS any_big,
                      CAST(mapAll((k, v) -> v >= 0, m) AS INT) AS all_nonneg
               FROM (SELECT l_orderkey, l_linenumber,
                            map('qty', CAST(l_quantity AS DOUBLE),
                                'disc', CAST(l_discount AS DOUBLE),
                                'tax', CAST(l_tax AS DOUBLE)) AS m
                     FROM lineitem_mf WHERE l_orderkey <= 512) t
               ORDER BY l_orderkey, l_linenumber""")
    },
    Some("""SELECT l_orderkey, l_linenumber,
                   'qty,disc,tax' AS ks,
                   round(l_quantity + l_discount + l_tax, 2) AS vsum,
                   1 AS has_tax,
                   1 AS has_qlike,
                   round(l_quantity + 1.0, 2) AS qty_plus1,
                   round(l_discount - 0.01, 2) AS disc_minus,
                   CAST(9.99 AS DOUBLE) AS tax_upd,
                   concat_ws(',', 'qty',
                             CASE WHEN l_discount > 0.03 THEN 'disc' END,
                             CASE WHEN l_tax > 0.03 THEN 'tax' END) AS big_keys,
                   'disc' AS like_keys,
                   CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END AS any_big,
                   1 AS all_nonneg
            FROM lineitem WHERE l_orderkey <= 512
            ORDER BY l_orderkey, l_linenumber"""),
  )

  /** mapPopulateSeries: densify a sparse integer-keyed counter map —
    * the gap-filler for the sumMap monitoring idiom. Keys are spread
    * onto 2×linenumber so every group genuinely has holes; the filled
    * series rides out as the (keys, vals) struct sumMap produces. The
    * oracle rebuilds the dense axis with generate_series + LEFT JOIN. */
  val q27e = GraftQuery(
    "q27e_map_series",
    (s, dir) => {
      Tables(s, dir).lineitem.createOrReplaceTempView("lineitem_mp")
      s.sql("""SELECT l_orderkey,
                      arrayStringConcat(arrayMap(x -> toString(x), ps.keys), ',') AS pk,
                      arrayStringConcat(arrayMap(x -> toString(x), ps.vals), ',') AS pv
               FROM (SELECT l_orderkey, mapPopulateSeries(m.keys, m.vals) AS ps
                     FROM (SELECT l_orderkey,
                                  sumMap(array(CAST(l_linenumber * 2 AS BIGINT)),
                                         array(CAST(l_quantity AS BIGINT))) AS m
                           FROM lineitem_mp WHERE l_orderkey <= 200
                           GROUP BY l_orderkey) t) u
               ORDER BY l_orderkey""")
    },
    Some("""WITH base AS (SELECT l_orderkey, 2 * l_linenumber AS k,
                                 CAST(sum(l_quantity) AS BIGINT) AS v
                          FROM lineitem WHERE l_orderkey <= 200 GROUP BY 1, 2),
                 rng AS (SELECT l_orderkey, unnest(generate_series(min(k), max(k))) AS k
                         FROM base GROUP BY l_orderkey),
                 j AS (SELECT r.l_orderkey, r.k, coalesce(b.v, 0) AS v
                       FROM rng r LEFT JOIN base b ON r.l_orderkey = b.l_orderkey AND r.k = b.k)
            SELECT l_orderkey,
                   string_agg(CAST(k AS VARCHAR), ',' ORDER BY k) AS pk,
                   string_agg(CAST(v AS VARCHAR), ',' ORDER BY k) AS pv
            FROM j GROUP BY l_orderkey ORDER BY l_orderkey"""),
  )

  /** Float-guard and function-spelled-arithmetic families: isFinite /
    * isInfinite / ifNotFinite over a division that genuinely produces
    * infinities (zero discounts), plus/minus/multiply/divide/negate
    * (the ORM-emitted spellings), exp2/exp10, and the toLowCardinality
    * no-op. The oracle never divides by zero — it branches on the
    * denominator, which is exactly what the guards compute. */
  val q28e = GraftQuery(
    "q28e_float_math",
    (s, dir) => {
      Tables(s, dir).lineitem.createOrReplaceTempView("lineitem_fg")
      s.sql("""SELECT l_returnflag,
                      CAST(sum(CASE WHEN isFinite(divide(l_extendedprice, l_discount)) THEN 1 ELSE 0 END) AS BIGINT) AS n_fin,
                      CAST(sum(CASE WHEN isInfinite(divide(l_extendedprice, l_discount)) THEN 1 ELSE 0 END) AS BIGINT) AS n_inf,
                      round(sum(ifNotFinite(divide(l_extendedprice, l_discount), 0.0)), 0) AS s_ratio,
                      round(max(plus(multiply(l_quantity, 2.0), negate(minus(l_tax, 0.5)))), 2) AS mx,
                      round(exp2(CAST(max(l_linenumber) AS DOUBLE)), 0) AS e2,
                      round(exp10(2.0), 0) AS e10,
                      max(toLowCardinality(l_returnflag)) AS lc
               FROM lineitem_fg GROUP BY l_returnflag ORDER BY l_returnflag""")
    },
    Some("""SELECT l_returnflag,
                   CAST(sum(CASE WHEN l_discount <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_fin,
                   CAST(sum(CASE WHEN l_discount = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_inf,
                   round(sum(CASE WHEN l_discount <> 0 THEN l_extendedprice / l_discount ELSE 0 END), 0) AS s_ratio,
                   round(max(2.0 * l_quantity - l_tax + 0.5), 2) AS mx,
                   round(pow(2.0, CAST(max(l_linenumber) AS DOUBLE)), 0) AS e2,
                   round(pow(10.0, 2.0), 0) AS e10,
                   max(l_returnflag) AS lc
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
  )

  /** toStartOf* bucketing family: day × hour-of-day heatmap. */
  val q28 = GraftQuery(
    "q28_date_buckets",
    (s, dir) => Tables(s, dir).events
      .groupBy(ch.toStartOfDay(col("ts")).as("day"), hour(col("ts")).as("hr"))
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("total"))
      .orderBy(col("day"), col("hr")),
    Some("""SELECT date_trunc('day', ts) AS day, hour(ts) AS hr,
                   count(*) AS cnt, round(sum(value), 2) AS total
            FROM events GROUP BY 1, 2 ORDER BY day, hr"""),
  )

  /** ClickHouse-dialect SQL text executed verbatim via spark.sql —
    * the function names resolve through graft.plans.ChDialect, so the
    * reference's migrated app queries run unchanged. */
  val q29 = GraftQuery(
    "q29_chsql_dialect",
    (s, dir) => {
      Tables(s, dir).events.createOrReplaceTempView("events_v")
      s.sql("""SELECT toStartOfMonth(ts) AS month,
                      countIf(event_type = 'purchase') AS purchases,
                      round(sumIf(value, event_type = 'purchase'), 2) AS purchase_value,
                      round(avgIf(value, event_type = 'click'), 4) AS avg_click,
                      JSONExtractInt(props, 'k') % 1000 AS k_mod
               FROM events_v
               GROUP BY toStartOfMonth(ts), JSONExtractInt(props, 'k') % 1000
               HAVING k_mod < 5
               ORDER BY month, k_mod""")
    },
    Some("""SELECT date_trunc('month', ts) AS month,
                   count(*) FILTER (WHERE event_type = 'purchase') AS purchases,
                   round(sum(value) FILTER (WHERE event_type = 'purchase'), 2) AS purchase_value,
                   round(avg(value) FILTER (WHERE event_type = 'click'), 4) AS avg_click,
                   CAST(props ->> '$.k' AS BIGINT) % 1000 AS k_mod
            FROM events GROUP BY 1, 5 HAVING k_mod < 5 ORDER BY month, k_mod"""),
  )

  /** The reference's emitted category query, VERBATIM (text copied from
    * /root/reference/src/corpus/orm_none.txt:462-468 with an empty
    * whereClause). `if`/`empty` resolve through ChDialect; GROUP BY
    * binds to the source column in both engines. The `expenses` view
    * maps orders → the app's expense shape, with one priority mapped
    * to '' so the empty() branch is exercised; `amount` is an
    * integer-valued double so SUM is exact (bit-equal across engines
    * with no rounding — the query text can't be touched). */
  val q29b = GraftQuery(
    "q29b_corpus_category",
    (s, dir) => {
      Tables(s, dir).orders
        .select(
          when(col("o_orderpriority") === "1-URGENT", lit("")).otherwise(col("o_orderpriority")).as("category"),
          round(col("o_totalprice")).as("amount"))
        .createOrReplaceTempView("expenses")
      s.sql("""SELECT
        if(empty(category), 'Uncategorized', category) as category,
        COUNT(*) as count,
        SUM(amount) as total
       FROM expenses
       GROUP BY category
       ORDER BY total DESC""")
    },
    Some("""WITH expenses AS (
              SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN '' ELSE o_orderpriority END AS category,
                     round(o_totalprice) AS amount
              FROM orders)
            SELECT CASE WHEN category IS NULL OR category = '' THEN 'Uncategorized' ELSE category END AS category,
                   COUNT(*) AS "count",
                   SUM(amount) AS total
            FROM expenses
            GROUP BY expenses.category
            ORDER BY total DESC"""),
  )

  /** ClickHouse parametric-aggregate spelling through spark.sql —
    * `quantile(0.5)(x)` / `quantiles(…)(x)` / `median(x)` parse via
    * ChSqlParser and resolve to native Percentile. Same semantics as
    * q22's DataFrame facade, now in the dialect itself. */
  val q22b = GraftQuery(
    "q22b_parametric_quantile",
    (s, dir) => {
      Tables(s, dir).lineitem.createOrReplaceTempView("lineitem_v")
      s.sql("""SELECT l_returnflag,
                      round(quantile(0.5)(l_quantity), 4) AS p50,
                      round(quantile(0.9)(l_quantity), 4) AS p90,
                      round(quantiles(0.25, 0.75)(l_quantity)[1], 4) AS p75,
                      round(median(l_quantity), 4) AS med
               FROM lineitem_v GROUP BY l_returnflag ORDER BY l_returnflag""")
    },
    Some("""SELECT l_returnflag,
                   round(quantile_cont(l_quantity, 0.5), 4) AS p50,
                   round(quantile_cont(l_quantity, 0.9), 4) AS p90,
                   round(quantile_cont(l_quantity, 0.75), 4) AS p75,
                   round(quantile_cont(l_quantity, 0.5), 4) AS med
            FROM lineitem GROUP BY 1 ORDER BY l_returnflag"""),
  )

  /** ClickHouse `topK(5)(user_id)` through spark.sql → GraftTopK, the
    * native exact top-frequency aggregate (count desc, value asc —
    * deterministic, so unlike ClickHouse's SpaceSaving sketch this IS
    * oracle-able). Output stringified per the SURVEY §5 scalar-output
    * convention. */
  val q23b = GraftQuery(
    "q23b_parametric_topk",
    (s, dir) => {
      Tables(s, dir).events.createOrReplaceTempView("events_v")
      s.sql("""SELECT event_type,
                      array_join(transform(topK(5)(user_id), x -> cast(x AS STRING)), ',') AS top_users
               FROM events_v GROUP BY event_type ORDER BY event_type""")
    },
    Some("""WITH counted AS (
              SELECT event_type, user_id, count(*) AS cnt,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY count(*) DESC, user_id) AS rn
              FROM events GROUP BY 1, 2)
            SELECT event_type,
                   array_to_string(list(CAST(user_id AS VARCHAR) ORDER BY cnt DESC, user_id), ',') AS top_users
            FROM counted WHERE rn <= 5
            GROUP BY 1 ORDER BY event_type"""),
  )

  /** `sumMap` (graft.plans.GraftMapAgg) — ClickHouse's element-wise
    * keyed combine over parallel arrays — plus the array HOFs in CH
    * spelling (lambda first). Output serialized to joined strings per
    * the §5 scalar-output convention; the DuckDB oracle computes the
    * same map as an ordered group-by. */
  val q27b = GraftQuery(
    "q27b_summap",
    (s, dir) => {
      Tables(s, dir).lineitem.createOrReplaceTempView("lineitem_sm")
      s.sql("""SELECT arrayStringConcat(m.keys, ',') AS flags,
                      arrayStringConcat(arrayMap(x -> toString(x), m.vals), ',') AS sums,
                      CAST(arraySum(m.vals) AS DOUBLE) AS total,
                      CAST(arrayCount(x -> x > 100000, m.vals) AS INT) AS n_big,
                      arrayStringConcat(mf.keys, ',') AS f_flags,
                      arrayStringConcat(arrayMap(x -> toString(x), mf.vals), ',') AS f_sums
               FROM (SELECT sumMap(array(l_returnflag), array(CAST(l_quantity AS BIGINT))) AS m,
                            sumMapFiltered(array('A', 'N'))(array(l_returnflag),
                              array(CAST(l_quantity AS BIGINT))) AS mf
                     FROM lineitem_sm) t""")
    },
    Some("""SELECT string_agg(l_returnflag, ',' ORDER BY l_returnflag) AS flags,
                   string_agg(CAST(s AS VARCHAR), ',' ORDER BY l_returnflag) AS sums,
                   CAST(sum(s) AS DOUBLE) AS total,
                   CAST(count(CASE WHEN s > 100000 THEN 1 END) AS INT) AS n_big,
                   string_agg(CASE WHEN l_returnflag IN ('A', 'N') THEN l_returnflag END,
                              ',' ORDER BY l_returnflag) AS f_flags,
                   string_agg(CASE WHEN l_returnflag IN ('A', 'N') THEN CAST(s AS VARCHAR) END,
                              ',' ORDER BY l_returnflag) AS f_sums
            FROM (SELECT l_returnflag, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s
                  FROM lineitem GROUP BY 1) t"""),
  )

  /** avgMap/minMap/maxMap: the rest of the -Map combinator family —
    * avgMap composes two map-agg buffers (sum and per-key count) and
    * divides element-wise; min/max share sumMap's
    * TypedImperativeAggregate with a different combine. Key-sorted
    * eval makes the serialization deterministic; the oracle is the
    * plain GROUP BY restated as joined strings. */
  val q27h = GraftQuery(
    "q27h_map_avg_minmax",
    (s, dir) => {
      Tables(s, dir).lineitem.createOrReplaceTempView("lineitem_am")
      s.sql("""SELECT arrayStringConcat(am.keys, ',') AS a_keys,
                      arrayStringConcat(arrayMap(x -> toString(round(x, 4)), am.vals), ',') AS a_avgs,
                      arrayStringConcat(arrayMap(x -> toString(x), mn.vals), ',') AS mins,
                      arrayStringConcat(arrayMap(x -> toString(x), mx.vals), ',') AS maxs
               FROM (SELECT avgMap(array(l_returnflag), array(CAST(l_quantity AS BIGINT))) AS am,
                            minMap(array(l_returnflag), array(CAST(l_quantity AS BIGINT))) AS mn,
                            maxMap(array(l_returnflag), array(CAST(l_quantity AS BIGINT))) AS mx
                     FROM lineitem_am) t""")
    },
    Some("""SELECT string_agg(rf, ',' ORDER BY rf) AS a_keys,
                   string_agg(CAST(a AS VARCHAR), ',' ORDER BY rf) AS a_avgs,
                   string_agg(CAST(mn AS VARCHAR), ',' ORDER BY rf) AS mins,
                   string_agg(CAST(mx AS VARCHAR), ',' ORDER BY rf) AS maxs
            FROM (SELECT l_returnflag AS rf,
                         round(avg(CAST(l_quantity AS BIGINT)), 4) AS a,
                         min(CAST(l_quantity AS BIGINT)) AS mn,
                         max(CAST(l_quantity AS BIGINT)) AS mx
                  FROM lineitem GROUP BY 1) t"""),
  )

  /** groupArrayMovingSum/Avg(n)(x) in their parametric spelling: a
    * 3-wide moving window over each group's SORTED value array
    * (determinism choice documented at the registration). Arrays
    * serialize to joined strings per the §5 convention; the oracle
    * rebuilds the identical windows with ROWS BETWEEN — tie order is
    * irrelevant because tied values are equal, so every window holds
    * the same multiset. */
  val q27c = GraftQuery(
    "q27c_moving_agg",
    (s, dir) => {
      Tables(s, dir).lineitem.createOrReplaceTempView("lineitem_mv")
      s.sql("""SELECT l_returnflag,
                      arrayStringConcat(arrayMap(x -> toString(round(x, 2)),
                        groupArrayMovingSum(3)(l_quantity)), ',') AS ms,
                      arrayStringConcat(arrayMap(x -> toString(round(x, 4)),
                        groupArrayMovingAvg(3)(l_quantity)), ',') AS ma
               FROM lineitem_mv WHERE l_orderkey < 300
               GROUP BY l_returnflag ORDER BY l_returnflag""")
    },
    Some("""WITH s AS (SELECT l_returnflag AS f, CAST(l_quantity AS DOUBLE) AS q
                       FROM lineitem WHERE l_orderkey < 300),
                 w AS (SELECT f, q,
                              sum(q) OVER (PARTITION BY f ORDER BY q
                                           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS ms,
                              avg(q) OVER (PARTITION BY f ORDER BY q
                                           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS ma
                       FROM s)
            SELECT f AS l_returnflag,
                   string_agg(CAST(round(ms, 2) AS VARCHAR), ',' ORDER BY q, ms) AS ms,
                   string_agg(CAST(round(ma, 4) AS VARCHAR), ',' ORDER BY q, ma) AS ma
            FROM w GROUP BY f ORDER BY l_returnflag"""),
  )

  /** `GROUP BY … WITH TOTALS` (ClickHouse spelling) → grouping sets
    * via the ChSqlParser rewrite; the totals row carries NULL keys. */
  val q29c = GraftQuery(
    "q29c_with_totals",
    (s, dir) => {
      Tables(s, dir).events.createOrReplaceTempView("events_v")
      s.sql("""SELECT event_type, count(*) AS cnt, round(sum(value), 2) AS total
               FROM events_v
               GROUP BY event_type WITH TOTALS
               ORDER BY event_type NULLS FIRST""")
    },
    Some("""SELECT event_type, count(*) AS cnt, round(sum(value), 2) AS total
            FROM events
            GROUP BY GROUPING SETS ((event_type), ())
            ORDER BY event_type NULLS FIRST"""),
  )

  /** ClickHouse named query parameters, verbatim from the corpus'
    * getAllExpenses (/root/reference/src/corpus/orm_none.txt:432-437,
    * 541): `{start_date:String}` markers are rewritten by ChSqlParser
    * to Spark named parameter markers and bound via
    * `spark.sql(text, args)`; string-typed dates coerce against the
    * timestamp column exactly as ClickHouse casts on bind. */
  val q29d = GraftQuery(
    "q29d_param_query",
    (s, dir) => {
      Tables(s, dir).orders
        .select(col("o_orderkey").as("id"), round(col("o_totalprice"), 2).as("amount"),
                col("o_orderpriority").as("category"), col("o_orderdate").as("date"))
        .createOrReplaceTempView("expenses")
      s.sql(
        """SELECT id, amount, category, date FROM expenses
           WHERE 1=1 AND date >= {start_date:String} AND date <= {end_date:String}
             AND category = {category:String}
           ORDER BY date DESC, id DESC""",
        Map("start_date" -> "1995-01-01", "end_date" -> "1995-12-31", "category" -> "1-URGENT"))
    },
    Some("""SELECT o_orderkey AS id, round(o_totalprice, 2) AS amount,
                   o_orderpriority AS category, o_orderdate AS "date"
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
              AND o_orderdate <= TIMESTAMP '1995-12-31 00:00:00'
              AND o_orderpriority = '1-URGENT'
            ORDER BY "date" DESC, id DESC"""),
  )

  /** Round-2 dialect surface gauntlet: the type-conversion / date-part
    * / date-arithmetic / string / array function families registered
    * in ChDialect, exercised through spark.sql in ClickHouse spelling
    * and oracle-checked against DuckDB's equivalents. dateDiff uses
    * the quoted-unit ClickHouse form (boundary-crossing semantics,
    * rerouted by ChSqlParser); DuckDB's date_diff counts boundaries
    * too, so the two agree by construction. */
  val q28b = GraftQuery(
    "q28b_scalar_gauntlet",
    (s, dir) => {
      Tables(s, dir).orders.createOrReplaceTempView("orders_g")
      s.sql("""SELECT CAST(toYear(o_orderdate) AS BIGINT) AS yr,
                      replaceAll(lowerUTF8(o_orderpriority), '-', '_') AS prio,
                      count(*) AS cnt,
                      CAST(uniqExact(o_custkey) AS BIGINT) AS ncust,
                      CAST(max(toDayOfWeek(o_orderdate)) AS BIGINT) AS max_dow,
                      CAST(min(dateDiff('day', o_orderdate, TIMESTAMP '1998-12-31 00:00:00')) AS BIGINT) AS min_days_left,
                      leftPad(toString(toMonth(min(o_orderdate))), 2, '0') AS first_month
               FROM orders_g GROUP BY 1, 2 ORDER BY yr, prio""")
    },
    Some("""SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
                   replace(lower(o_orderpriority), '-', '_') AS prio,
                   count(*) AS cnt,
                   CAST(count(DISTINCT o_custkey) AS BIGINT) AS ncust,
                   CAST(max(isodow(o_orderdate)) AS BIGINT) AS max_dow,
                   CAST(min(date_diff('day', o_orderdate, TIMESTAMP '1998-12-31 00:00:00')) AS BIGINT) AS min_days_left,
                   lpad(CAST(month(min(o_orderdate)) AS VARCHAR), 2, '0') AS first_month
            FROM orders GROUP BY 1, 2 ORDER BY yr, prio"""),
  )

  /** Moment / bitwise aggregate families in CH spelling. skewPop and
    * kurtPop are population-moment statistics (ClickHouse semantics);
    * DuckDB's skewness/kurtosis are bias-corrected sample statistics,
    * so the oracle recomputes the population formulas from raw power
    * sums — the same algebra the dialect composition uses, making the
    * comparison exact up to the rounding both sides apply. */
  val q25b = GraftQuery(
    "q25b_moments",
    (s, dir) => {
      Tables(s, dir).lineitem.createOrReplaceTempView("lineitem_m")
      s.sql("""SELECT l_returnflag,
                      round(skewPop(l_quantity), 4) + 0 AS skew_qty,
                      round(kurtPop(l_quantity), 4) AS kurt_qty,
                      round(varPop(l_quantity), 4) AS var_qty,
                      round(stddevPop(l_quantity), 4) AS sd_qty,
                      round(covarPop(l_quantity, l_extendedprice), 0) AS cov_qp,
                      CAST(groupBitAnd(l_linenumber) AS BIGINT) AS bit_and,
                      CAST(groupBitOr(l_linenumber) AS BIGINT) AS bit_or,
                      CAST(groupBitXor(l_linenumber) AS BIGINT) AS bit_xor
               FROM lineitem_m GROUP BY l_returnflag ORDER BY l_returnflag""")
    },
    Some("""SELECT l_returnflag,
                   round(((s3/n) - 3*(s1/n)*(s2/n) + 2*pow(s1/n, 3)) / pow((s2/n) - pow(s1/n, 2), 1.5), 4) + 0 AS skew_qty,
                   round(((s4/n) - 4*(s1/n)*(s3/n) + 6*pow(s1/n, 2)*(s2/n) - 3*pow(s1/n, 4)) / pow((s2/n) - pow(s1/n, 2), 2), 4) AS kurt_qty,
                   round(vp, 4) AS var_qty,
                   round(sdp, 4) AS sd_qty,
                   round(cvp, 0) AS cov_qp,
                   bit_and, bit_or, bit_xor
            FROM (SELECT l_returnflag,
                         CAST(count(*) AS DOUBLE) AS n,
                         sum(l_quantity) AS s1,
                         sum(l_quantity*l_quantity) AS s2,
                         sum(l_quantity*l_quantity*l_quantity) AS s3,
                         sum(l_quantity*l_quantity*l_quantity*l_quantity) AS s4,
                         var_pop(l_quantity) AS vp,
                         stddev_pop(l_quantity) AS sdp,
                         covar_pop(l_quantity, l_extendedprice) AS cvp,
                         CAST(bit_and(l_linenumber) AS BIGINT) AS bit_and,
                         CAST(bit_or(l_linenumber) AS BIGINT) AS bit_or,
                         CAST(bit_xor(l_linenumber) AS BIGINT) AS bit_xor
                  FROM lineitem GROUP BY 1) t
            ORDER BY l_returnflag"""),
  )

  /** The substring/regex search family in CH spelling over documents:
    * countSubstrings (length-delta arithmetic, no regex),
    * multiSearchAny / multiSearchAllPositions (folds over the needle
    * array), countMatches / match / extractAll (regex), position.
    * ngramDistance is registered too but spec-pinned (its 4-gram
    * multiset fold has no concise DuckDB replay). */
  val q28d = GraftQuery(
    "q28d_string_search",
    (s, dir) => {
      Tables(s, dir).documents.createOrReplaceTempView("docs_ss")
      s.sql("""SELECT doc_id,
                      countSubstrings(text, 'table') AS c_sub,
                      CAST(multiSearchAny(text, array('vector', 'hash', 'merge')) AS INT) AS any_hit,
                      arrayStringConcat(arrayMap(x -> toString(x),
                        multiSearchAllPositions(text, array('table', 'spark'))), ',') AS pos_all,
                      countMatches(text, 'ta[bg]le') AS c_re,
                      position(text, 'spark') AS p_spark,
                      CAST(match(text, '^key') AS INT) AS starts_key,
                      arrayStringConcat(extractAll(text, '[a-z]*ow'), '|') AS ow_words
               FROM docs_ss WHERE doc_id < 200 ORDER BY doc_id""")
    },
    Some("""SELECT doc_id,
                   CAST((len(text) - len(replace(text, 'table', ''))) / 5 AS BIGINT) AS c_sub,
                   CAST(text LIKE '%vector%' OR text LIKE '%hash%' OR text LIKE '%merge%' AS INT) AS any_hit,
                   CAST(strpos(text, 'table') AS VARCHAR) || ',' || CAST(strpos(text, 'spark') AS VARCHAR) AS pos_all,
                   CAST(len(regexp_extract_all(text, 'ta[bg]le')) AS BIGINT) AS c_re,
                   strpos(text, 'spark') AS p_spark,
                   CAST(regexp_matches(text, '^key') AS INT) AS starts_key,
                   coalesce(array_to_string(regexp_extract_all(text, '[a-z]*ow'), '|'), '') AS ow_words
            FROM documents WHERE doc_id < 200 ORDER BY doc_id"""),
  )

  /** The statistical-aggregate family in CH spelling: entropy (native
    * map-state agg), rankCorr (Spearman, native pair-buffer agg),
    * simpleLinearRegression / boundingRatio / sumCount (aggregate
    * algebra), and both two-sample t-tests. The t statistic is
    * oracled exactly (pooled/Welch formulas in SQL); the p-value on
    * top is a deterministic scalar of (t, df) that DuckDB cannot
    * express, so it is pinned in DialectRound5Spec against published
    * t-table values instead. boundingRatio's x is made unique
    * (orderkey*10+linenumber) so argMax/argMin are deterministic. */
  val q25c = GraftQuery(
    "q25c_stat_tests",
    (s, dir) => {
      Tables(s, dir).lineitem.createOrReplaceTempView("lineitem_st")
      s.sql("""SELECT l_returnflag,
                      round(entropy(l_linestatus), 6) AS ent,
                      round(rankCorr(l_quantity, l_extendedprice), 4) AS rc,
                      round(tupleElement(simpleLinearRegression(l_quantity, l_extendedprice), 'k'), 4) AS slope,
                      round(tupleElement(simpleLinearRegression(l_quantity, l_extendedprice), 'b'), 2) AS icept,
                      round(boundingRatio(l_orderkey * 10 + l_linenumber, l_extendedprice), 6) AS br,
                      round(tupleElement(sumCount(l_quantity), 'sum'), 2) AS sc_sum,
                      tupleElement(sumCount(l_quantity), 'count') AS sc_cnt,
                      round(tupleElement(studentTTest(l_extendedprice, l_orderkey % 2), 't_stat'), 4) AS t_student,
                      round(tupleElement(welchTTest(l_extendedprice, l_orderkey % 2), 't_stat'), 4) AS t_welch
               FROM lineitem_st GROUP BY l_returnflag ORDER BY l_returnflag""")
    },
    Some("""WITH r AS (SELECT l_returnflag AS f,
                              rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
                                + (count(*) OVER (PARTITION BY l_returnflag, l_quantity) - 1) / 2.0 AS rx,
                              rank() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice)
                                + (count(*) OVER (PARTITION BY l_returnflag, l_extendedprice) - 1) / 2.0 AS ry
                       FROM lineitem),
                 rc AS (SELECT f, corr(rx, ry) AS rc FROM r GROUP BY 1),
                 ec AS (SELECT l_returnflag AS f, l_linestatus AS v, count(*) AS c
                        FROM lineitem GROUP BY 1, 2),
                 en AS (SELECT f, 0.0 - sum((c * 1.0 / n) * log2(c * 1.0 / n)) AS ent
                        FROM (SELECT f, c, sum(c) OVER (PARTITION BY f) AS n FROM ec)
                        GROUP BY 1),
                 ag AS (SELECT l_returnflag AS f,
                               regr_slope(l_extendedprice, l_quantity) AS slope,
                               regr_intercept(l_extendedprice, l_quantity) AS icept,
                               sum(l_quantity) AS sc_sum,
                               count(l_quantity) AS sc_cnt,
                               avg(l_extendedprice) FILTER (l_orderkey % 2 = 0) AS m0,
                               avg(l_extendedprice) FILTER (l_orderkey % 2 = 1) AS m1,
                               var_samp(l_extendedprice) FILTER (l_orderkey % 2 = 0) AS v0,
                               var_samp(l_extendedprice) FILTER (l_orderkey % 2 = 1) AS v1,
                               count(*) FILTER (l_orderkey % 2 = 0) AS n0,
                               count(*) FILTER (l_orderkey % 2 = 1) AS n1
                        FROM lineitem GROUP BY 1),
                 -- bounding ratio with the deterministic (x, y)-pair
                 -- tie-break: largest y at the right edge, smallest y
                 -- at the left (x is NOT unique in the synthetic data)
                 xb AS (SELECT l_returnflag AS f, l_extendedprice AS y,
                               l_orderkey * 10 + l_linenumber AS x FROM lineitem),
                 xr AS (SELECT f, max(x) AS mxx, min(x) AS mnx FROM xb GROUP BY 1),
                 brv AS (SELECT xb.f,
                                (max(CASE WHEN x = mxx THEN y END)
                                 - min(CASE WHEN x = mnx THEN y END))
                                / (max(x) - min(x)) AS br
                         FROM xb JOIN xr ON xb.f = xr.f GROUP BY 1)
            SELECT ag.f AS l_returnflag,
                   round(ent, 6) AS ent,
                   round(rc.rc, 4) AS rc,
                   round(slope, 4) AS slope,
                   round(icept, 2) AS icept,
                   round(brv.br, 6) AS br,
                   round(sc_sum, 2) AS sc_sum,
                   sc_cnt,
                   round((m0 - m1) / sqrt(((n0 - 1) * v0 + (n1 - 1) * v1) / (n0 + n1 - 2)
                                          * (1.0 / n0 + 1.0 / n1)), 4) AS t_student,
                   round((m0 - m1) / sqrt(v0 / n0 + v1 / n1), 4) AS t_welch
            FROM ag JOIN rc ON ag.f = rc.f JOIN en ON ag.f = en.f JOIN brv ON ag.f = brv.f
            ORDER BY l_returnflag"""),
  )

  /** Rank/ECDF two-sample tests (mannWhitneyUTest U statistic,
    * kolmogorovSmirnovTest D statistic — statistic-only like the
    * q25c t family), deltaSumTimestamp in the engine's deterministic
    * (ts, value) order, bounded parametric `groupArray(3)(x)`
    * (smallest-n reading of CH's first-n — deterministic) and
    * singleValueOrNull (one distinct → the value, else NULL). The
    * oracle rebuilds U from window avg-ranks, D from cumulative
    * per-value counts, and the delta sum from a lag window. */
  val q25f = GraftQuery(
    "q25f_rank_tests",
    (s, dir) => {
      Tables(s, dir).lineitem.createOrReplaceTempView("lineitem_rt")
      s.sql("""SELECT l_returnflag,
                      round(mannWhitneyUTest(l_quantity, CAST(l_orderkey % 2 AS INT)), 2) AS mwu,
                      round(kolmogorovSmirnovTest(l_quantity, CAST(l_orderkey % 2 AS INT)), 6) AS ks_d,
                      round(deltaSumTimestamp(l_extendedprice, l_shipdate), 2) AS dst,
                      arrayStringConcat(arrayMap(x -> toString(x), groupArray(3)(l_orderkey)), ',') AS first3,
                      singleValueOrNull(l_returnflag) AS only_flag,
                      singleValueOrNull(l_linenumber) AS multi_null
               FROM lineitem_rt GROUP BY l_returnflag ORDER BY l_returnflag""")
    },
    Some("""WITH mw AS (SELECT l_returnflag AS f, l_quantity AS v, l_orderkey % 2 AS g,
                               l_orderkey, l_extendedprice, l_shipdate, l_linenumber
                        FROM lineitem),
                 mr AS (SELECT f, g,
                               rank() OVER (PARTITION BY f ORDER BY v)
                               + (count(*) OVER (PARTITION BY f, v) - 1) / 2.0 AS ar
                        FROM mw),
                 mws AS (SELECT f,
                                round(sum(ar) FILTER (WHERE g = 0)
                                      - count(*) FILTER (WHERE g = 0)
                                        * (count(*) FILTER (WHERE g = 0) + 1) / 2.0, 2) AS mwu
                         FROM mr GROUP BY f),
                 kv AS (SELECT f, v, count(*) FILTER (WHERE g = 0) AS c0,
                               count(*) FILTER (WHERE g = 1) AS c1
                        FROM mw GROUP BY f, v),
                 kc AS (SELECT f,
                               sum(c0) OVER (PARTITION BY f ORDER BY v) AS a0,
                               sum(c1) OVER (PARTITION BY f ORDER BY v) AS a1,
                               sum(c0) OVER (PARTITION BY f) AS n0,
                               sum(c1) OVER (PARTITION BY f) AS n1
                        FROM kv),
                 ks AS (SELECT f, round(max(abs(a0 * 1.0 / n0 - a1 * 1.0 / n1)), 6) AS ks_d
                        FROM kc GROUP BY f),
                 dd AS (SELECT f, l_extendedprice
                               - lag(l_extendedprice) OVER (PARTITION BY f
                                   ORDER BY l_shipdate, l_extendedprice) AS d
                        FROM mw),
                 ds AS (SELECT f, round(sum(CASE WHEN d > 0 THEN d ELSE 0 END), 2) AS dst
                        FROM dd GROUP BY f),
                 ga AS (SELECT f, array_to_string((list_sort(list(l_orderkey)))[1:3], ',') AS first3 FROM mw GROUP BY f),
                 sv AS (SELECT f,
                               CASE WHEN count(DISTINCT f) = 1 THEN min(f) END AS only_flag,
                               CASE WHEN count(DISTINCT l_linenumber) = 1 THEN min(l_linenumber) END AS multi_null
                        FROM mw GROUP BY f)
            SELECT mws.f AS l_returnflag, mws.mwu, ks.ks_d, ds.dst, ga.first3,
                   sv.only_flag, sv.multi_null
            FROM mws JOIN ks ON mws.f = ks.f JOIN ds ON ds.f = mws.f
                 JOIN ga ON ga.f = mws.f JOIN sv ON sv.f = mws.f
            ORDER BY l_returnflag"""),
  )

  /** Sample moments, one-way ANOVA and decayed time folds.
    * skewSamp/kurtSamp are one-pass raw-power-sum trees (the n−1
    * sample variant of q25b's population moments); analysisOfVariance
    * is [[graft.plans.GraftAnova]] — per-group count/sum/sumsq keyed
    * in an O(#groups) buffer, so the F statistic folds with map-side
    * partial merge and no row buffering; exponentialMovingAverage /
    * exponentialTimeDecayedSum are [[graft.plans.GraftExpDecay]] — a
    * four-double rescaling buffer anchored at the group's max time so
    * epoch-scale axes can't overflow the weights. The oracle replays
    * each closed form (power sums, per-group sums, one max(t) pass)
    * in DuckDB. */
  val q25g = GraftQuery(
    "q25g_decay_anova",
    (s, dir) => {
      Tables(s, dir).lineitem.createOrReplaceTempView("lineitem_dc")
      // + 0.0 canonicalizes IEEE negative zero on every rounded stat
      // (a tiny negative skew rounds to −0.0 at small SFs)
      s.sql("""SELECT l_returnflag,
                      round(skewSamp(l_quantity), 4) + 0.0 AS sk_q,
                      round(kurtSamp(l_quantity), 4) + 0.0 AS ku_q,
                      round(analysisOfVariance(l_quantity, l_linenumber % 3), 4) + 0.0 AS f_stat,
                      round(exponentialMovingAverage(30)(l_quantity, datediff(l_shipdate, DATE '1992-01-01')), 4) + 0.0 AS ema_q,
                      round(exponentialTimeDecayedSum(30)(l_quantity, datediff(l_shipdate, DATE '1992-01-01')), 4) + 0.0 AS etds_q
               FROM lineitem_dc GROUP BY l_returnflag ORDER BY l_returnflag""")
    },
    Some("""WITH base AS (SELECT l_returnflag AS rf, CAST(l_quantity AS DOUBLE) AS q,
                                 l_linenumber % 3 AS g,
                                 CAST(datediff('day', DATE '1992-01-01', l_shipdate) AS DOUBLE) AS t
                          FROM lineitem),
                 mx AS (SELECT rf, max(t) AS mt FROM base GROUP BY rf),
                 pg AS (SELECT rf, g, CAST(count(*) AS DOUBLE) AS ng, sum(q) AS sg
                        FROM base GROUP BY rf, g),
                 an AS (SELECT rf, CAST(count(*) AS DOUBLE) AS k, sum(ng) AS n, sum(sg) AS s,
                               sum(sg*sg/ng) AS tt
                        FROM pg GROUP BY rf),
                 qt AS (SELECT rf, CAST(count(*) AS DOUBLE) AS n, sum(q) AS s1, sum(q*q) AS s2,
                               sum(q*q*q) AS s3, sum(q*q*q*q) AS s4
                        FROM base GROUP BY rf),
                 em AS (SELECT b.rf,
                               sum(b.q * pow(2, (b.t - m.mt)/30.0)) / sum(pow(2, (b.t - m.mt)/30.0)) AS ema_q,
                               sum(b.q * exp((b.t - m.mt)/30.0)) AS etds_q
                        FROM base b JOIN mx m ON b.rf = m.rf GROUP BY b.rf)
            SELECT q.rf AS l_returnflag,
                   round(((q.s3/q.n) - 3*(q.s1/q.n)*(q.s2/q.n) + 2*pow(q.s1/q.n, 3)) * (q.n/(q.n-1))
                         / pow(((q.s2/q.n) - pow(q.s1/q.n, 2)) * (q.n/(q.n-1)), 1.5), 4) + 0.0 AS sk_q,
                   round(((q.s4/q.n) - 4*(q.s1/q.n)*(q.s3/q.n) + 6*pow(q.s1/q.n, 2)*(q.s2/q.n) - 3*pow(q.s1/q.n, 4)) * (q.n/(q.n-1))
                         / pow(((q.s2/q.n) - pow(q.s1/q.n, 2)) * (q.n/(q.n-1)), 2), 4) + 0.0 AS ku_q,
                   round(((a.tt - a.s*a.s/a.n)/(a.k-1)) / ((q.s2 - a.tt)/(a.n - a.k)), 4) + 0.0 AS f_stat,
                   round(e.ema_q, 4) + 0.0 AS ema_q,
                   round(e.etds_q, 4) + 0.0 AS etds_q
            FROM qt q JOIN an a ON q.rf = a.rf JOIN em e ON q.rf = e.rf
            ORDER BY l_returnflag"""),
  )

  /** maxIntersections / maxIntersectionsPosition: peak concurrent
    * intervals (orders as 30-day half-open spans, per priority class)
    * — ClickHouse's interval-sweep aggregates as one native
    * pair-buffer agg; the oracle replays the identical ±1 sweep with
    * a window running sum. */
  val q25d = GraftQuery(
    "q25d_interval_sweep",
    (s, dir) => {
      Tables(s, dir).orders.createOrReplaceTempView("orders_mi")
      s.sql("""SELECT o_orderpriority,
                      maxIntersections(datediff(CAST(o_orderdate AS DATE), DATE '1992-01-01'),
                                       datediff(CAST(o_orderdate AS DATE), DATE '1992-01-01') + 30) AS mi,
                      maxIntersectionsPosition(datediff(CAST(o_orderdate AS DATE), DATE '1992-01-01'),
                                               datediff(CAST(o_orderdate AS DATE), DATE '1992-01-01') + 30) AS mip,
                      CAST(intervalLengthSum(datediff(CAST(o_orderdate AS DATE), DATE '1992-01-01'),
                                             datediff(CAST(o_orderdate AS DATE), DATE '1992-01-01') + 30) AS BIGINT) AS ils
               FROM orders_mi GROUP BY o_orderpriority ORDER BY o_orderpriority""")
    },
    Some("""WITH iv AS (SELECT o_orderpriority AS p,
                               date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS s
                        FROM orders),
                 ev AS (SELECT p, s AS pos, 1 AS delta FROM iv
                        UNION ALL
                        SELECT p, s + 30 AS pos, -1 AS delta FROM iv),
                 sw AS (SELECT p, pos, delta,
                               sum(delta) OVER (PARTITION BY p ORDER BY pos, delta
                                                ROWS UNBOUNDED PRECEDING) AS cur
                        FROM ev),
                 mx AS (SELECT p, max(cur) AS mi FROM sw GROUP BY 1),
                 mp AS (SELECT sw.p, min(pos) AS mip
                        FROM sw JOIN mx ON sw.p = mx.p AND sw.cur = mx.mi GROUP BY 1),
                 -- the union-length chain dedupes s first: duplicate
                 -- starts don't change the union (e is a function of
                 -- s) but DO break the ROWS-frame island detection —
                 -- tied rows split nondeterministically across the
                 -- "1 PRECEDING" boundary and can fork an island
                 ilo AS (SELECT p, s, s + 30 AS e,
                                max(s + 30) OVER (PARTITION BY p ORDER BY s
                                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
                         FROM (SELECT DISTINCT p, s FROM iv) dv),
                 ilg AS (SELECT p, s, e,
                                sum(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
                                  OVER (PARTITION BY p ORDER BY s ROWS UNBOUNDED PRECEDING) AS grp
                         FROM ilo),
                 ils AS (SELECT p, CAST(sum(len) AS BIGINT) AS ils
                         FROM (SELECT p, grp, max(e) - min(s) AS len FROM ilg GROUP BY p, grp)
                         GROUP BY p)
            SELECT mx.p AS o_orderpriority, CAST(mi AS BIGINT) AS mi, CAST(mip AS BIGINT) AS mip,
                   ils.ils
            FROM mx JOIN mp ON mx.p = mp.p JOIN ils ON ils.p = mx.p ORDER BY o_orderpriority"""),
  )

  /** Formatting / bit-manipulation / guarded-arithmetic gauntlet in CH
    * spelling: bar (whole-block subset), formatReadableQuantity/Size,
    * base64 round trip, bitTest/bitShiftLeft/bitRotateLeft/
    * bitHammingDistance, intDivOrZero/moduloOrZero, intExp2/intExp10/
    * roundToExp2, roundDuration/roundAge ladders, caseWithExpression
    * (ClickHouse's `transform` value remapper, renamed because
    * Spark's `transform` is the array HOF), greatCircleDistance
    * (haversine, R=6371 km). Oracle replays each formula in DuckDB. */
  val q28f = GraftQuery(
    "q28f_format_bits",
    (s, dir) => {
      Tables(s, dir).lineitem.createOrReplaceTempView("lineitem_fm")
      s.sql("""SELECT l_linenumber AS ln,
                      bar(l_linenumber, 0, 7, 14) AS bar14,
                      formatReadableQuantity(round(sum(l_extendedprice), 0)) AS frq,
                      formatReadableSize(l_linenumber * 1536) AS frs,
                      bitTest(l_linenumber, 1) AS bt,
                      bitShiftLeft(l_linenumber, 3) AS bsl,
                      bitRotateLeft(l_linenumber, 2) AS brl,
                      CAST(bitHammingDistance(l_linenumber, 5) AS INT) AS bhd,
                      intDivOrZero(10, l_linenumber - 1) AS idz,
                      moduloOrZero(10, l_linenumber - 1) AS mdz,
                      intExp2(l_linenumber) AS e2,
                      intExp10(l_linenumber) AS e10,
                      roundToExp2(count(*)) AS r2,
                      roundDuration(l_linenumber * 50) AS rd,
                      roundAge(l_linenumber * 9) AS ra,
                      caseWithExpression(l_linenumber, array(1, 2, 3),
                                         array('one', 'two', 'three'), 'many') AS cw,
                      base64Encode(CAST(l_linenumber AS STRING)) AS b64,
                      base64Decode(base64Encode(CAST(l_linenumber AS STRING))) AS b64rt,
                      round(greatCircleDistance(0, 0, l_linenumber, l_linenumber), 0) AS gcd_m
               FROM lineitem_fm GROUP BY l_linenumber ORDER BY ln""")
    },
    Some("""SELECT l_linenumber AS ln,
                   repeat('█', CAST(floor(l_linenumber / 7.0 * 14) AS INT)) AS bar14,
                   CASE WHEN round(sum(l_extendedprice), 0) < 1e3
                          THEN printf('%.2f', round(sum(l_extendedprice), 0))
                        WHEN round(sum(l_extendedprice), 0) < 1e6
                          THEN printf('%.2f', round(sum(l_extendedprice), 0) / 1e3) || ' thousand'
                        WHEN round(sum(l_extendedprice), 0) < 1e9
                          THEN printf('%.2f', round(sum(l_extendedprice), 0) / 1e6) || ' million'
                        WHEN round(sum(l_extendedprice), 0) < 1e12
                          THEN printf('%.2f', round(sum(l_extendedprice), 0) / 1e9) || ' billion'
                        ELSE printf('%.2f', round(sum(l_extendedprice), 0) / 1e12) || ' trillion'
                   END AS frq,
                   printf('%.2f', l_linenumber * 1536 / 1024.0) || ' KiB' AS frs,
                   CAST((CAST(l_linenumber AS BIGINT) >> 1) & 1 AS INT) AS bt,
                   CAST(l_linenumber AS BIGINT) << 3 AS bsl,
                   CAST(l_linenumber AS BIGINT) << 2 AS brl,
                   CAST(bit_count(xor(CAST(l_linenumber AS BIGINT), 5)) AS INT) AS bhd,
                   CASE WHEN l_linenumber = 1 THEN 0
                        ELSE 10 // (CAST(l_linenumber AS BIGINT) - 1) END AS idz,
                   CASE WHEN l_linenumber = 1 THEN 0
                        ELSE 10 % (CAST(l_linenumber AS BIGINT) - 1) END AS mdz,
                   CAST(1 AS BIGINT) << l_linenumber AS e2,
                   CAST(pow(10, l_linenumber) AS BIGINT) AS e10,
                   CAST(1 AS BIGINT) << CAST(floor(log2(count(*))) AS INT) AS r2,
                   CASE WHEN l_linenumber * 50 >= 600 THEN 600
                        WHEN l_linenumber * 50 >= 300 THEN 300
                        WHEN l_linenumber * 50 >= 240 THEN 240
                        WHEN l_linenumber * 50 >= 180 THEN 180
                        WHEN l_linenumber * 50 >= 120 THEN 120
                        WHEN l_linenumber * 50 >= 60 THEN 60
                        WHEN l_linenumber * 50 >= 30 THEN 30
                        WHEN l_linenumber * 50 >= 10 THEN 10
                        ELSE 1 END AS rd,
                   CASE WHEN l_linenumber * 9 >= 55 THEN 55
                        WHEN l_linenumber * 9 >= 45 THEN 45
                        WHEN l_linenumber * 9 >= 35 THEN 35
                        WHEN l_linenumber * 9 >= 25 THEN 25
                        WHEN l_linenumber * 9 >= 18 THEN 18
                        ELSE 0 END AS ra,
                   CASE l_linenumber WHEN 1 THEN 'one' WHEN 2 THEN 'two' WHEN 3 THEN 'three'
                        ELSE 'many' END AS cw,
                   base64(encode(CAST(l_linenumber AS VARCHAR))) AS b64,
                   CAST(l_linenumber AS VARCHAR) AS b64rt,
                   round(2 * 6371000 * asin(sqrt(
                     pow(sin(radians(l_linenumber) / 2), 2)
                     + cos(0) * cos(radians(l_linenumber))
                       * pow(sin(radians(l_linenumber) / 2), 2))), 0) AS gcd_m
            FROM lineitem GROUP BY l_linenumber ORDER BY ln"""),
  )

  /** Categorical-association coefficients (cramersV, bias-corrected
    * cramersV, Theil's U, contingency coefficient) per ship-year over
    * the (returnflag, linestatus) contingency — native joint-count-map
    * aggregates ([[graft.plans.GraftAssociation]], O(distinct pairs)
    * state); the oracle rebuilds χ², marginals and entropies in SQL. */
  val q25e = GraftQuery(
    "q25e_association",
    (s, dir) => {
      Tables(s, dir).lineitem.createOrReplaceTempView("lineitem_as")
      s.sql("""SELECT toYear(l_shipdate) AS yr,
                      round(cramersV(l_returnflag, l_linestatus), 6) AS v,
                      round(cramersVBiasCorrected(l_returnflag, l_linestatus), 6) AS vbc,
                      round(theilsU(l_returnflag, l_linestatus), 6) AS u,
                      round(contingency(l_returnflag, l_linestatus), 6) AS cg
               FROM lineitem_as GROUP BY toYear(l_shipdate) ORDER BY yr""")
    },
    Some("""WITH c AS (SELECT year(l_shipdate) AS m, l_returnflag AS x, l_linestatus AS y,
                              count(*) * 1.0 AS c
                       FROM lineitem GROUP BY 1, 2, 3),
                 tot AS (SELECT m, sum(c) AS n FROM c GROUP BY 1),
                 xs  AS (SELECT m, x, sum(c) AS nx FROM c GROUP BY 1, 2),
                 ys  AS (SELECT m, y, sum(c) AS ny FROM c GROUP BY 1, 2),
                 kk  AS (SELECT tot.m, n,
                                (SELECT count(*) FROM xs WHERE xs.m = tot.m) AS kx,
                                (SELECT count(*) FROM ys WHERE ys.m = tot.m) AS ky
                         FROM tot),
                 ex  AS (SELECT xs.m, xs.x, ys.y, xs.nx * ys.ny / tot.n AS e
                         FROM xs JOIN ys ON xs.m = ys.m JOIN tot ON tot.m = xs.m),
                 chi AS (SELECT ex.m, sum(pow(coalesce(c.c, 0) - e, 2) / e) AS chi2
                         FROM ex LEFT JOIN c ON c.m = ex.m AND c.x = ex.x AND c.y = ex.y
                         GROUP BY 1),
                 hx  AS (SELECT xs.m, -sum((nx / n) * ln(nx / n)) AS hx
                         FROM xs JOIN tot ON tot.m = xs.m GROUP BY 1),
                 hxy AS (SELECT c.m, -sum((c.c / tot.n) * ln(c.c / ys.ny)) AS hxy
                         FROM c JOIN ys ON ys.m = c.m AND ys.y = c.y
                                JOIN tot ON tot.m = c.m GROUP BY 1)
            SELECT CAST(kk.m AS INT) AS yr,
                   round(sqrt(chi2 / (n * (least(kx, ky) - 1))), 6) AS v,
                   round(sqrt(greatest(0, chi2 / n - (kx - 1) * (ky - 1) / (n - 1)) /
                         (least(kx - pow(kx - 1, 2) / (n - 1),
                                ky - pow(ky - 1, 2) / (n - 1)) - 1)), 6) AS vbc,
                   round((hx.hx - hxy.hxy) / hx.hx, 6) AS u,
                   round(sqrt(chi2 / (chi2 + n)), 6) AS cg
            FROM kk JOIN chi ON chi.m = kk.m JOIN hx ON hx.m = kk.m JOIN hxy ON hxy.m = kk.m
            ORDER BY yr"""),
  )

  /** URL / IPv4 function families in CH spelling over a synthesized
    * URL column (the testdata has no native URL column; both engines
    * build the identical string, so the decomposition functions are
    * what's under test). Every 5th event gets a query-less URL so the
    * CH ''-for-absent semantics (extractURLParameter, queryString) is
    * exercised, not just the happy path. */
  val q28c = GraftQuery(
    "q28c_url_ip",
    (s, dir) => {
      Tables(s, dir).events.createOrReplaceTempView("events_u")
      s.sql("""SELECT domain(url) AS host,
                      topLevelDomain(url) AS tld,
                      protocol(url) AS proto,
                      count(*) AS cnt,
                      min(extractURLParameter(url, 'k')) AS min_k,
                      max(extractURLParameter(url, 'k')) AS max_k,
                      max(path(url)) AS max_path,
                      max(cutQueryString(url)) AS max_cut,
                      min(IPv4NumToString(ipnum)) AS min_ip,
                      CAST(max(IPv4StringToNum(IPv4NumToString(ipnum)) - ipnum) AS BIGINT) AS ip_rt_err
               FROM (SELECT concat('https://ex', toString(modulo(user_id, 3)), '.org/', event_type,
                                   if(modulo(event_id, 5) = 0, '/q',
                                      concat('/p?uid=', toString(user_id), '&k=', toString(modulo(event_id, 7))))) AS url,
                            modulo(event_id * 2654435761, 4294967296) AS ipnum
                     FROM events_u) t
               GROUP BY 1, 2, 3 ORDER BY host, tld, proto""")
    },
    Some("""WITH t AS (
              SELECT concat('https://ex', CAST(user_id % 3 AS VARCHAR), '.org/', event_type,
                            CASE WHEN event_id % 5 = 0 THEN '/q'
                                 ELSE concat('/p?uid=', CAST(user_id AS VARCHAR), '&k=', CAST(event_id % 7 AS VARCHAR)) END) AS url,
                     (event_id * 2654435761) % 4294967296 AS ipnum
              FROM events),
            u AS (
              SELECT regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host,
                     regexp_extract(url, '^([a-z]+)://', 1) AS proto,
                     regexp_extract(url, '[?&]k=([^&#]*)', 1) AS k_param,
                     regexp_extract(url, '^[a-z]+://[^/?#]+([^?#]*)', 1) AS pth,
                     regexp_replace(url, '\?[^#]*', '') AS cut,
                     concat_ws('.', CAST((ipnum // 16777216) % 256 AS VARCHAR),
                                    CAST((ipnum // 65536) % 256 AS VARCHAR),
                                    CAST((ipnum // 256) % 256 AS VARCHAR),
                                    CAST(ipnum % 256 AS VARCHAR)) AS ip_str,
                     ipnum
              FROM t)
            SELECT host,
                   regexp_extract(host, '([^.]+)$', 1) AS tld,
                   proto,
                   count(*) AS cnt,
                   min(k_param) AS min_k,
                   max(k_param) AS max_k,
                   max(pth) AS max_path,
                   max(cut) AS max_cut,
                   min(ip_str) AS min_ip,
                   CAST(max(CAST(split_part(ip_str, '.', 1) AS BIGINT) * 16777216
                          + CAST(split_part(ip_str, '.', 2) AS BIGINT) * 65536
                          + CAST(split_part(ip_str, '.', 3) AS BIGINT) * 256
                          + CAST(split_part(ip_str, '.', 4) AS BIGINT) - ipnum) AS BIGINT) AS ip_rt_err
            FROM u GROUP BY 1, 2, 3 ORDER BY host, tld, proto"""),
  )

  /** ClickHouse external-dictionary lookups. `dictGet`/`dictHas`/
    * `dictGetOrDefault` are planted as placeholders and rewritten by
    * `graft.plans.DictGetRewrite` into broadcast left-outer joins —
    * the oracle IS that join, written out by hand, so the hash-match
    * proves the rewrite end to end. The modulo-key lookups miss for
    * keys ≥ 25 (nation has 25 rows), exercising dictHas=false and the
    * OrDefault branch, not just the happy path. */
  val q38 = GraftQuery(
    "q38_dictget",
    (s, dir) => {
      graft.operators.Dictionaries.register("nations", "n_nationkey", () => Tables(s, dir).nation)
      Tables(s, dir).customer.createOrReplaceTempView("customer_d")
      s.sql("""SELECT dictGet('nations', 'n_name', c_nationkey) AS nation,
                      count(*) AS n_cust,
                      round(sum(c_acctbal), 2) AS bal,
                      CAST(countIf(dictHas('nations', modulo(c_custkey, 50))) AS BIGINT) AS n_hit,
                      max(dictGetOrDefault('nations', 'n_name', modulo(c_custkey, 50), 'UNKNOWN')) AS max_name
               FROM customer_d
               GROUP BY dictGet('nations', 'n_name', c_nationkey)
               ORDER BY nation""")
    },
    Some("""SELECT n.n_name AS nation, count(*) AS n_cust, round(sum(c.c_acctbal), 2) AS bal,
                   CAST(count(*) FILTER (WHERE m.n_nationkey IS NOT NULL) AS BIGINT) AS n_hit,
                   max(coalesce(m.n_name, 'UNKNOWN')) AS max_name
            FROM customer c
            LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
            LEFT JOIN nation m ON c.c_custkey % 50 = m.n_nationkey
            GROUP BY 1 ORDER BY nation"""),
  )

  /** ClickHouse `SAMPLE k` on a table with a registered sample key
    * ([[graft.operators.Sampling.registerSampleBy]], the analog of
    * CH's `SAMPLE BY` DDL): the clause rewrites to the deterministic
    * content-addressed md5-bucket filter, so — unlike TABLESAMPLE —
    * the drawn sample is identical across engines and the oracle
    * replays the same bucket arithmetic on DuckDB's md5. The filter
    * is a pure projection predicate: no shuffle, pushes to the scan,
    * and every engine in a 1000-executor pipeline draws the same
    * rows. */
  val q29m = GraftQuery(
    "q29m_sample",
    (s, dir) => {
      Tables(s, dir).orders.createOrReplaceTempView("orders_smp")
      graft.operators.Sampling.registerSampleBy("orders_smp", "CAST(o_orderkey AS STRING)")
      s.sql("""SELECT o_orderpriority AS prio, count(*) AS n,
                      round(sum(o_totalprice), 2) AS total
               FROM orders_smp SAMPLE 0.25
               GROUP BY o_orderpriority ORDER BY prio""")
    },
    Some("""WITH b AS (SELECT o_orderpriority, o_totalprice,
                              (strpos('0123456789abcdef', substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) - 1) * 16
                              + strpos('0123456789abcdef', substring(md5(CAST(o_orderkey AS VARCHAR)), 2, 1)) - 1 AS bucket
                       FROM orders)
            SELECT o_orderpriority AS prio, count(*) AS n,
                   round(sum(o_totalprice), 2) AS total
            FROM b WHERE bucket < 64
            GROUP BY 1 ORDER BY prio"""),
  )

  /** `QUALIFY` — the post-window filter clause (CH 23.x+, DuckDB,
    * Snowflake). ChSqlParser's QUALIFY pass injects
    * the predicate as a boolean select item (lateral column aliases
    * resolve the `rn` reference against the select list) and wraps
    * once in `* EXCEPT` — one window, one filter, zero extra
    * shuffles vs the hand-written subquery form. The oracle runs the
    * same QUALIFY text natively on DuckDB. */
  /** PASTE JOIN (CH's by-position zip) in its deterministic
    * executable form (round 10; CHAINED round 11): every side carries
    * a top-level ORDER BY, the parser zips the WHOLE chain in one
    * multi-way join on row_number over each side's own order, inner
    * join truncating to the shortest side
    * ([[graft.plans.ChSqlParser]] rewritePasteJoin). The oracle
    * replays the same zip with explicit row_numbers. */
  val q29p = GraftQuery(
    "q29p_paste_join",
    (s, dir) => {
      Tables(s, dir).orders.createOrReplaceTempView("gq29p_orders")
      s.sql("""SELECT * FROM (
                 (SELECT o_orderpriority AS prio, round(sum(o_totalprice), 2) AS total
                  FROM gq29p_orders GROUP BY o_orderpriority ORDER BY prio)
                 PASTE JOIN
                 (SELECT id + 1 AS rank FROM range(5) ORDER BY rank)
                 PASTE JOIN
                 (SELECT chr(65 + CAST(id AS INT)) AS tag FROM range(7) ORDER BY tag DESC)
               ) ORDER BY prio""")
    },
    Some("""WITH a AS (SELECT o_orderpriority AS prio, round(sum(o_totalprice), 2) AS total,
                              row_number() OVER (ORDER BY o_orderpriority) AS rn
                       FROM orders GROUP BY o_orderpriority),
                 b AS (SELECT i + 1 AS rank, row_number() OVER (ORDER BY i) AS rn
                       FROM range(0, 5) t(i)),
                 c AS (SELECT chr(65 + CAST(i AS INT)) AS tag,
                              row_number() OVER (ORDER BY chr(65 + CAST(i AS INT)) DESC) AS rn
                       FROM range(0, 7) t(i))
            SELECT prio, total, CAST(rank AS BIGINT) AS rank, tag
            FROM a JOIN b USING (rn) JOIN c USING (rn) ORDER BY prio"""),
  )

  /** Round-11 dialect grab-bag, driver-gated: the CH/MySQL %-format
    * codes (↔ DuckDB strftime), `truncate` toward-zero rounding
    * (↔ trunc·10/10), variadic `caseWithExpression` (↔ CASE x WHEN),
    * `hasTokenCaseInsensitive` under countIf (↔ the same boundary
    * regex), and the MySQL-style top-level `LIMIT offset, count`
    * (↔ LIMIT/OFFSET). */
  val q29q = GraftQuery(
    "q29q_dialect_r11",
    (s, dir) => {
      Tables(s, dir).orders.createOrReplaceTempView("gq29q_orders")
      s.sql("""SELECT formatDateTime(o_orderdate, '%Y-%m') AS ym,
                      round(avg(o_totalprice), 2) AS avg_t,
                      truncate(min(o_totalprice), 1) AS min_t,
                      CAST(sum(caseWithExpression(o_orderpriority,
                           '1-URGENT', 2, '2-HIGH', 1, 0)) AS BIGINT) AS prio_score,
                      CAST(countIf(hasTokenCaseInsensitive(o_orderstatus, 'o')) AS BIGINT) AS open_cnt
               FROM gq29q_orders
               GROUP BY 1 ORDER BY ym LIMIT 3, 6""")
    },
    Some("""SELECT strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m') AS ym,
                   round(avg(o_totalprice), 2) AS avg_t,
                   trunc(min(o_totalprice) * 10) / 10 AS min_t,
                   CAST(sum(CASE o_orderpriority WHEN '1-URGENT' THEN 2
                            WHEN '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS prio_score,
                   CAST(sum(CASE WHEN regexp_matches(lower(o_orderstatus),
                        '(^|[^a-z0-9_])o($|[^a-z0-9_])') THEN 1 ELSE 0 END) AS BIGINT) AS open_cnt
            FROM orders GROUP BY 1 ORDER BY ym LIMIT 6 OFFSET 3"""),
  )

  /** Round-12 dialect features driver-gated in one query: Join-engine
    * DDL + joinGet (↔ DuckDB LEFT JOIN + coalesce-to-default),
    * hasSubsequence (↔ an order-preserving regex), array edit
    * distance over single-char splits (↔ DuckDB's string
    * levenshtein), the H3 index bit layout (cell built per-row from
    * nation keys, resolution/parent recomputed by the oracle with
    * plain bit arithmetic), formatRowNoNewline CSV, and makeDate32.
    * Scale shape: one broadcast dim join (the Join-engine lookup) +
    * per-row codegen'd projections. */
  /** `SHOW CREATE TABLE` (round 15) — the migration-UX introspection
    * statement: the first thing a migrating user types to verify a
    * landed table. The engine reconstructs the ClickHouse DDL from
    * the table record the DDL front-end persists (`_graft_table.txt`:
    * engine/ORDER BY/PARTITION BY spelling/SETTINGS, the LIVE TTL
    * rule, the projections and vector indexes) plus the catalog
    * schema reverse-mapped to CH types. The oracle pins the EXACT
    * statement text, so any drift in the reconstruction — a dropped
    * clause, a reordered column, a lost TTL — is a hash mismatch. */
  val q29t = GraftQuery(
    "q29t_show_create",
    (s, dir) => {
      graft.FixtureClock.time {
        s.sql("DROP TABLE IF EXISTS gq29t_t")
        val whRoot = new org.apache.hadoop.fs.Path(
          new java.net.URI(s.conf.get("spark.sql.warehouse.dir")))
        val fs = whRoot.getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(whRoot, "gq29t_t"), true)
        s.sql("""CREATE TABLE gq29t_t (d Date, k String, v Float64)
                 ENGINE = MergeTree PARTITION BY k ORDER BY (d, k)
                 TTL d + INTERVAL 30 DAY
                 SETTINGS index_granularity = 8192""")
        s.sql("ALTER TABLE gq29t_t ADD PROJECTION pa (SELECT k, count(), max(v) GROUP BY k)")
      }
      s.sql("SHOW CREATE TABLE gq29t_t")
    },
    Some("SELECT 'CREATE TABLE gq29t_t\n(\n    `d` Date,\n    `k` String,\n    `v` Float64,\n" +
      "    PROJECTION pa (SELECT k, count(), max(v) GROUP BY k)\n)\nENGINE = MergeTree\n" +
      "PARTITION BY k\nORDER BY (d, k)\nTTL d + INTERVAL 30 DAY\n" +
      "SETTINGS index_granularity = 8192' AS statement"),
  )

  /** system.tables / system.columns / system.parts — the
    * introspection surface a migrating user's TOOLING queries after
    * the CLI habits (SHOW CREATE, DESCRIBE — rounds 15/16) are
    * satisfied: dashboards enumerate system.columns, ops scripts read
    * system.parts for part/byte/row counts. system.columns carries
    * CH's is_in_partition_key/is_in_sorting_key flags resolved from
    * the same table record DESCRIBE uses; system.parts carries
    * per-partition part_count/bytes_on_disk/rows with rows read from
    * parquet FOOTERS (a metadata read, CH's own system.parts promise
    * — never a data scan). The oracle pins the exact column shape,
    * key flags, engine name and part/row counts; bytes_on_disk —
    * the one layout-dependent cell — is pinned > 0 in ChDdlSpec
    * rather than hashed. */
  val q29w = GraftQuery(
    "q29w_system_catalog",
    (s, dir) => {
      graft.FixtureClock.time {
        s.sql("DROP TABLE IF EXISTS gq29w_t")
        val whRoot = new org.apache.hadoop.fs.Path(
          new java.net.URI(s.conf.get("spark.sql.warehouse.dir")))
        val fs = whRoot.getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(whRoot, "gq29w_t"), true)
        s.sql("""CREATE TABLE gq29w_t (d Date, k String, v Float64)
                 ENGINE = MergeTree PARTITION BY k ORDER BY (d, k)""")
        s.sql("""INSERT INTO gq29w_t (d, k, v) VALUES
                 (DATE '2024-01-01', 'a', 1.5), (DATE '2024-01-02', 'a', 2.5),
                 (DATE '2024-01-03', 'b', 3.5), (DATE '2024-01-04', 'b', 4.5)""")
      }
      s.sql("""SELECT c.name, c.type, c.position,
                      c.is_in_partition_key, c.is_in_sorting_key,
                      t.engine,
                      CAST((SELECT count(*) FROM system.parts WHERE table = 'gq29w_t') AS BIGINT) AS n_parts,
                      CAST((SELECT sum(rows) FROM system.parts WHERE table = 'gq29w_t') AS BIGINT) AS total_rows
               FROM system.columns c
               JOIN system.tables t ON t.name = c.table
               WHERE c.table = 'gq29w_t'
               ORDER BY c.position""")
    },
    Some("""SELECT * FROM (VALUES
              ('d', 'Date',    1, 0, 1, 'MergeTree', CAST(2 AS BIGINT), CAST(4 AS BIGINT)),
              ('k', 'String',  2, 1, 1, 'MergeTree', CAST(2 AS BIGINT), CAST(4 AS BIGINT)),
              ('v', 'Float64', 3, 0, 0, 'MergeTree', CAST(2 AS BIGINT), CAST(4 AS BIGINT)))
            t(name, type, position, is_in_partition_key, is_in_sorting_key, engine, n_parts, total_rows)
            ORDER BY position"""),
  )

  val q29r = GraftQuery(
    "q29r_dialect_r12",
    (s, dir) => {
      Tables(s, dir).nation.createOrReplaceTempView("gq29r_nation")
      Tables(s, dir).customer.createOrReplaceTempView("gq29r_cust")
      s.sql("DROP TABLE IF EXISTS gq29r_jt")
      // a prior session's warehouse dir survives a fresh metastore's
      // no-op DROP — clear it so CREATE never hits LOCATION_EXISTS
      val whRoot = new org.apache.hadoop.fs.Path(
        new java.net.URI(s.conf.get("spark.sql.warehouse.dir")))
      val fs = whRoot.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(whRoot, "gq29r_jt"), true)
      s.sql("""CREATE TABLE gq29r_jt ENGINE = Join(ANY, LEFT, k) AS
               SELECT n_nationkey AS k, n_name AS name FROM gq29r_nation""")
      s.sql("""WITH base AS (
                 SELECT c_custkey, c_name, c_mktsegment, c_nationkey,
                        shiftleft(CAST(1 AS BIGINT), 59) + shiftleft(CAST(1 AS BIGINT), 52)
                          + shiftleft(CAST(20 AS BIGINT), 45)
                          + shiftleft(CAST(c_nationkey % 7 AS BIGINT), 42)
                          + shiftleft(CAST(1 AS BIGINT), 42) - 1 AS h3
                 FROM gq29r_cust)
               SELECT c_custkey AS ck,
                      joinGet('gq29r_jt', 'name', c_nationkey) AS nname,
                      CAST(hasSubsequence(c_name, '15') AS BIGINT) AS subs,
                      CAST(arrayLevenshteinDistance(split(c_mktsegment, ''),
                                                    split('BUILDING', '')) AS BIGINT) AS lev,
                      CAST(h3GetResolution(h3) AS BIGINT) AS h3res,
                      h3ToParent(h3, 0) AS h3parent,
                      h3 AS h3cell,
                      formatRowNoNewline('CSV', c_mktsegment, c_nationkey) AS csvrow,
                      makeDate32(1992, 1 + c_nationkey % 12,
                                 1 + CAST(c_custkey % 28 AS INT)) AS d32
               FROM base ORDER BY ck LIMIT 50""")
    },
    Some("""WITH base AS (
              SELECT c_custkey, c_name, c_mktsegment, c_nationkey,
                     (CAST(1 AS BIGINT) << 59) + (CAST(1 AS BIGINT) << 52)
                       + (CAST(20 AS BIGINT) << 45)
                       + (CAST(c_nationkey % 7 AS BIGINT) << 42)
                       + ((CAST(1 AS BIGINT) << 42) - 1) AS h3
              FROM customer)
            SELECT c_custkey AS ck,
                   coalesce(n.n_name, '') AS nname,
                   CAST(CASE WHEN regexp_matches(c_name, '1.*5') THEN 1 ELSE 0 END AS BIGINT) AS subs,
                   CAST(levenshtein(c_mktsegment, 'BUILDING') AS BIGINT) AS lev,
                   CAST((h3 >> 52) & 15 AS BIGINT) AS h3res,
                   (CAST(1 AS BIGINT) << 59) + (CAST(20 AS BIGINT) << 45)
                     + ((CAST(1 AS BIGINT) << 45) - 1) AS h3parent,
                   h3 AS h3cell,
                   '"' || c_mktsegment || '",' || CAST(c_nationkey AS VARCHAR) AS csvrow,
                   make_date(1992, 1 + c_nationkey % 12,
                             1 + CAST(c_custkey % 28 AS INT)) AS d32
            FROM base LEFT JOIN nation n ON base.c_nationkey = n.n_nationkey
            ORDER BY ck LIMIT 50"""),
  )

  val q29n = GraftQuery(
    "q29n_qualify",
    (s, dir) => {
      Tables(s, dir).orders.createOrReplaceTempView("orders_qf")
      s.sql("""SELECT o_orderpriority AS prio, o_orderkey AS okey,
                      round(o_totalprice, 2) AS total,
                      row_number() OVER (PARTITION BY o_orderpriority
                                         ORDER BY o_totalprice DESC, o_orderkey) AS rn
               FROM orders_qf
               QUALIFY rn <= 3
               ORDER BY prio, rn""")
    },
    Some("""SELECT o_orderpriority AS prio, o_orderkey AS okey,
                   round(o_totalprice, 2) AS total,
                   row_number() OVER (PARTITION BY o_orderpriority
                                      ORDER BY o_totalprice DESC, o_orderkey) AS rn
            FROM orders
            QUALIFY rn <= 3
            ORDER BY prio, rn"""),
  )

  /** QUALIFY over a DISTINCT head (round 13; replaces the round-7
    * refusal): the predicate filters PRE-dedup rows — windows see
    * every row — and DISTINCT applies to the survivors, the standard
    * QUALIFY-before-DISTINCT evaluation order (DuckDB/Snowflake;
    * verified against DuckDB's own QUALIFY in the oracle). The
    * rewrite injects the predicate into a non-distinct inner select
    * and hoists DISTINCT to the wrapper, so the dedup key is exactly
    * the user's select list. */
  val q29n2 = GraftQuery(
    "q29n2_qualify_distinct",
    (s, dir) => {
      Tables(s, dir).orders.createOrReplaceTempView("orders_qfd")
      s.sql("""SELECT DISTINCT o_orderpriority AS prio
               FROM orders_qfd
               QUALIFY row_number() OVER (PARTITION BY year(o_orderdate)
                                          ORDER BY o_totalprice DESC, o_orderkey) <= 10
               ORDER BY prio""")
    },
    Some("""SELECT DISTINCT o_orderpriority AS prio
            FROM orders
            QUALIFY row_number() OVER (PARTITION BY year(o_orderdate)
                                       ORDER BY o_totalprice DESC, o_orderkey) <= 10
            ORDER BY prio"""),
  )

  /** Decimal surface gate (round 13): CH Decimal32/64/128/256 CAST
    * names, string round-trips (toDecimalString), OrNull/OrZero
    * parse edges, and the TRUNCATING multiplyDecimal/divideDecimal
    * semantics ([[graft.plans.DecimalOpTrunc]]) — all rendered to
    * strings so the DuckDB compare is digit-exact at full scale. The
    * oracle replays truncation with HUGEINT integer math (DuckDB's
    * own decimal division degrades to DOUBLE): unscaled·10^Δ // d is
    * floor — equal to CH's toward-zero digit-discard for these
    * all-positive prices. Overflow/refusal edges (toDecimal32 past
    * precision 9 → NULL, toDecimal256 scale > 38 → loud error,
    * division by zero → loud error) are spec-pinned, not oracled. */
  val q29s = GraftQuery(
    "q29s_decimal",
    (s, dir) => {
      Tables(s, dir).orders.createOrReplaceTempView("orders_dec")
      s.sql("""SELECT o_orderkey AS okey,
                      toString(toDecimal64(o_totalprice, 4)) AS d4,
                      toString(toDecimal32(o_totalprice, 2)) AS d2,
                      toString(toDecimal128(o_totalprice, 10)) AS d10,
                      toString(toDecimal256(o_totalprice, 6)) AS d256,
                      toDecimalString(o_totalprice, 5) AS ds5,
                      toString(toDecimal64(toDecimalString(o_totalprice, 3), 2)) AS rt2,
                      toString(multiplyDecimal(toDecimal64(o_totalprice, 2), toDecimal32(1.1, 1))) AS mul_d,
                      toString(multiplyDecimal(toDecimal64(o_totalprice, 2), toDecimal32(0.07, 2), 3)) AS mul3,
                      toString(divideDecimal(toDecimal64(o_totalprice, 2), toDecimal32(7, 0), 6)) AS div6,
                      toString(divideDecimal(toDecimal64(o_totalprice, 2), toDecimal32(7, 0))) AS div_d,
                      toString(toDecimal64OrNull('nope', 2)) AS bad_null,
                      toString(toDecimal32OrZero('nope', 3)) AS bad_zero
               FROM orders_dec
               ORDER BY okey LIMIT 100""")
    },
    Some("""WITH v AS (SELECT o_orderkey AS okey,
                              CAST(o_totalprice AS DECIMAL(18,2)) AS p2
                       FROM orders),
                 u AS (SELECT okey, p2,
                              CAST(p2 * 100 AS HUGEINT) AS up,
                              CAST(p2 * CAST(1.1 AS DECIMAL(9,1)) * 1000 AS HUGEINT) AS um3,
                              CAST(p2 * CAST(0.07 AS DECIMAL(9,2)) * 10000 AS HUGEINT) AS um4
                       FROM v)
            SELECT okey,
                   CAST(CAST(p2 AS DECIMAL(18,4)) AS VARCHAR) AS d4,
                   CAST(p2 AS VARCHAR) AS d2,
                   CAST(CAST(p2 AS DECIMAL(38,10)) AS VARCHAR) AS d10,
                   CAST(CAST(p2 AS DECIMAL(38,6)) AS VARCHAR) AS d256,
                   CAST(CAST(p2 AS DECIMAL(38,5)) AS VARCHAR) AS ds5,
                   CAST(p2 AS VARCHAR) AS rt2,
                   printf('%d.%02d', CAST((um3 // 10) // 100 AS BIGINT),
                                     CAST((um3 // 10) % 100 AS BIGINT)) AS mul_d,
                   printf('%d.%03d', CAST((um4 // 10) // 1000 AS BIGINT),
                                     CAST((um4 // 10) % 1000 AS BIGINT)) AS mul3,
                   printf('%d.%06d', CAST((up * 10000 // 7) // 1000000 AS BIGINT),
                                     CAST((up * 10000 // 7) % 1000000 AS BIGINT)) AS div6,
                   printf('%d.%02d', CAST((up // 7) // 100 AS BIGINT),
                                     CAST((up // 7) % 100 AS BIGINT)) AS div_d,
                   CAST(TRY_CAST('nope' AS DECIMAL(18,2)) AS VARCHAR) AS bad_null,
                   CAST(CAST(0 AS DECIMAL(9,3)) AS VARCHAR) AS bad_zero
            FROM u
            ORDER BY okey LIMIT 100"""),
  )

  /** Cluster-fabric table functions with a real single-session
    * analog (reference: scanner-modeled CH surface; CH docs
    * `merge`/`cluster`): `merge('regexp')` expands at parse time into
    * a UNION ALL over every catalog table whose name matches —
    * Catalyst pushes filters/pruning into each branch, and the
    * `_table` virtual column materializes only when referenced,
    * matching CH's lazy virtual columns. `cluster('name', t)` reads
    * the table directly: in Spark the distribution IS the cluster,
    * so "run on every shard and union" is just the scan. Scale shape:
    * merge() is metadata-only expansion — N branch scans, no extra
    * shuffle beyond the aggregation the query asked for. */
  val q29o = GraftQuery(
    "q29o_merge_cluster",
    (s, dir) => {
      val orders = Tables(s, dir).orders
      orders.filter("o_orderkey % 2 = 0").createOrReplaceTempView("shard_orders_even")
      orders.filter("o_orderkey % 2 = 1").createOrReplaceTempView("shard_orders_odd")
      s.sql("""SELECT _table, count() AS cnt, round(sum(o_totalprice), 2) AS total
               FROM merge('^shard_orders_')
               GROUP BY _table
               UNION ALL
               SELECT 'cluster_all' AS _table, count() AS cnt,
                      round(sum(o_totalprice), 2) AS total
               FROM cluster('default', shard_orders_even)
               ORDER BY _table""")
    },
    Some("""SELECT * FROM (
              SELECT 'shard_orders_even' AS _table, count(*) AS cnt,
                     round(sum(o_totalprice), 2) AS total
              FROM orders WHERE o_orderkey % 2 = 0
              UNION ALL
              SELECT 'shard_orders_odd' AS _table, count(*) AS cnt,
                     round(sum(o_totalprice), 2) AS total
              FROM orders WHERE o_orderkey % 2 = 1
              UNION ALL
              SELECT 'cluster_all' AS _table, count(*) AS cnt,
                     round(sum(o_totalprice), 2) AS total
              FROM orders WHERE o_orderkey % 2 = 0
            ) u ORDER BY _table"""),
  )

  /** CREATE DICTIONARY DDL executing end to end (round 10): the
    * dictionary registers from VERBATIM ClickHouse DDL
    * (`ChCreateDictionaryCommand` — SOURCE(CLICKHOUSE(TABLE)), LAYOUT,
    * LIFETIME all honored or deliberately dropped), then dictGet
    * resolves through the same broadcast-join rewrite as q38.
    * The declared attribute types cast the source columns, which the
    * oracle replays with explicit CASTs on the join. */
  val q38d = GraftQuery(
    "q38d_dict_ddl",
    (s, dir) => {
      Tables(s, dir).nation.createOrReplaceTempView("nation_ddl_src")
      Tables(s, dir).supplier.createOrReplaceTempView("supplier_dd")
      s.sql("DROP DICTIONARY IF EXISTS nations_ddl")
      s.sql("""CREATE DICTIONARY nations_ddl
               (n_nationkey UInt64, n_name String, n_regionkey UInt64)
               PRIMARY KEY n_nationkey
               SOURCE(CLICKHOUSE(TABLE 'nation_ddl_src'))
               LAYOUT(HASHED())
               LIFETIME(MIN 0 MAX 300)""")
      s.sql("""SELECT dictGet('nations_ddl', 'n_name', s_nationkey) AS nation,
                      CAST(dictGet('nations_ddl', 'n_regionkey', s_nationkey) AS BIGINT) AS region,
                      count(*) AS n_supp, round(sum(s_acctbal), 2) AS bal
               FROM supplier_dd
               GROUP BY 1, 2
               ORDER BY nation""")
    },
    Some("""SELECT n.n_name AS nation, CAST(n.n_regionkey AS BIGINT) AS region,
                   count(*) AS n_supp, round(sum(s.s_acctbal), 2) AS bal
            FROM supplier s LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
            GROUP BY 1, 2 ORDER BY nation"""),
  )

  /** COMPLEX_KEY dictionary (round 11): verbatim CH DDL with a
    * two-column PRIMARY KEY + LAYOUT(COMPLEX_KEY_HASHED()); lookups
    * pass `tuple(k1, k2)` and [[graft.plans.DictGetRewrite]] keys the
    * broadcast join on BOTH columns (each equality a plain codegen'd
    * comparison — no struct materialization). The oracle replays the
    * two-column left join. */
  val q38e = GraftQuery(
    "q38e_dict_complex_key",
    (s, dir) => {
      val t = Tables(s, dir)
      t.customer.createOrReplaceTempView("cust_ck")
      s.sql("""SELECT c_nationkey AS nkey, c_mktsegment AS seg,
                      round(avg(c_acctbal), 2) AS seg_bal, count(*) AS seg_n
               FROM cust_ck GROUP BY 1, 2""").createOrReplaceTempView("cust_seg_src")
      s.sql("DROP DICTIONARY IF EXISTS cust_seg")
      s.sql("""CREATE DICTIONARY cust_seg
               (nkey UInt64, seg String, seg_bal Float64, seg_n UInt64)
               PRIMARY KEY nkey, seg
               SOURCE(CLICKHOUSE(TABLE 'cust_seg_src'))
               LAYOUT(COMPLEX_KEY_HASHED())""")
      s.sql("""SELECT c_mktsegment AS segment, count(*) AS n_cust,
                      CAST(sum(CASE WHEN c_acctbal >
                        dictGet('cust_seg', 'seg_bal', tuple(c_nationkey, c_mktsegment))
                        THEN 1 ELSE 0 END) AS BIGINT) AS above_avg,
                      CAST(sum(CAST(dictGet('cust_seg', 'seg_n',
                        tuple(c_nationkey, c_mktsegment)) AS BIGINT)) AS BIGINT) AS sum_seg_n
               FROM cust_ck GROUP BY 1 ORDER BY 1""")
    },
    Some("""WITH seg AS (SELECT c_nationkey AS nkey, c_mktsegment AS sg,
                                round(avg(c_acctbal), 2) AS seg_bal, count(*) AS seg_n
                         FROM customer GROUP BY 1, 2)
            SELECT c.c_mktsegment AS segment, count(*) AS n_cust,
                   CAST(sum(CASE WHEN c.c_acctbal > s.seg_bal THEN 1 ELSE 0 END) AS BIGINT) AS above_avg,
                   CAST(sum(s.seg_n) AS BIGINT) AS sum_seg_n
            FROM customer c LEFT JOIN seg s
              ON c.c_nationkey = s.nkey AND c.c_mktsegment = s.sg
            GROUP BY 1 ORDER BY 1"""),
  )

  /** Hierarchical dictionary walkers `dictGetHierarchy` / `dictIsIn`
    * over a synthetic binary-tree hierarchy on nation keys
    * (parent(k) = (k−1)/2, root 0): the closure table
    * ([[graft.operators.Dictionaries.hierarchyClosure]]) is built
    * once — bounded by the dictionary, the same envelope as its
    * broadcast — and the per-row lookup is a broadcast-join probe.
    * The oracle rebuilds each chain with a recursive CTE. */
  val q38b = GraftQuery(
    "q38b_dict_hierarchy",
    (s, dir) => {
      graft.operators.Dictionaries.registerHierarchical("geo_h", "n_nationkey", "parent",
        () => Tables(s, dir).nation.selectExpr("n_nationkey",
          """CASE WHEN n_nationkey = 0 THEN CAST(NULL AS INT)
                  ELSE CAST(floor((n_nationkey - 1) / 2) AS INT) END AS parent"""))
      Tables(s, dir).nation.createOrReplaceTempView("nation_h")
      s.sql("""SELECT n_nationkey AS k,
                      arrayStringConcat(arrayMap(x -> toString(x), dictGetHierarchy('geo_h', n_nationkey)), ',') AS chain,
                      dictIsIn('geo_h', n_nationkey, 1) AS under_one,
                      dictIsIn('geo_h', n_nationkey, 60) AS under_missing
               FROM nation_h ORDER BY k""")
    },
    Some("""WITH RECURSIVE chains AS (
              SELECT n_nationkey AS k, CAST(n_nationkey AS BIGINT) AS cur,
                     [CAST(n_nationkey AS BIGINT)] AS chain
              FROM nation
              UNION ALL
              SELECT k, CAST((cur - 1) // 2 AS BIGINT),
                     list_append(chain, CAST((cur - 1) // 2 AS BIGINT))
              FROM chains WHERE cur > 0)
            SELECT k, array_to_string(chain, ',') AS chain,
                   list_contains(chain, 1) AS under_one,
                   list_contains(chain, 60) AS under_missing
            FROM chains WHERE cur = 0 ORDER BY k"""),
  )

  /** The DOWNWARD hierarchy walkers dictGetChildren /
    * dictGetDescendants (all levels and level-bounded) over the same
    * binary-tree hierarchy as q38b — per-(dict, level) descendants
    * closure, broadcast-probed, arrays sorted for determinism; the
    * oracle inverts the recursive ancestor chains (j is a descendant
    * of k iff k is in j's chain). */
  val q38c = GraftQuery(
    "q38c_dict_descendants",
    (s, dir) => {
      graft.operators.Dictionaries.registerHierarchical("geo_h", "n_nationkey", "parent",
        () => Tables(s, dir).nation.selectExpr("n_nationkey",
          """CASE WHEN n_nationkey = 0 THEN CAST(NULL AS INT)
                  ELSE CAST(floor((n_nationkey - 1) / 2) AS INT) END AS parent"""))
      Tables(s, dir).nation.createOrReplaceTempView("nation_h")
      s.sql("""SELECT n_nationkey AS k,
                      arrayStringConcat(arrayMap(x -> toString(x), dictGetChildren('geo_h', n_nationkey)), ',') AS kids,
                      arrayStringConcat(arrayMap(x -> toString(x), dictGetDescendants('geo_h', n_nationkey)), ',') AS all_desc,
                      arrayStringConcat(arrayMap(x -> toString(x), dictGetDescendants('geo_h', n_nationkey, 2)), ',') AS two_levels
               FROM nation_h ORDER BY k""")
    },
    Some("""WITH RECURSIVE chains AS (
              SELECT n_nationkey AS k, CAST(n_nationkey AS BIGINT) AS cur,
                     [CAST(n_nationkey AS BIGINT)] AS chain
              FROM nation
              UNION ALL
              SELECT k, CAST((cur - 1) // 2 AS BIGINT),
                     list_append(chain, CAST((cur - 1) // 2 AS BIGINT))
              FROM chains WHERE cur > 0),
            f AS (SELECT k, chain FROM chains WHERE cur = 0),
            pd AS (SELECT p.node, p.anc, list_position(f2.chain, p.anc) - 1 AS depth
                   FROM (SELECT f.k AS node, UNNEST(f.chain) AS anc FROM f) p
                   JOIN f f2 ON f2.k = p.node),
            de AS (SELECT anc,
                          list(CAST(node AS BIGINT)) FILTER (WHERE depth = 1) AS kd,
                          list(CAST(node AS BIGINT)) FILTER (WHERE depth >= 1) AS ad,
                          list(CAST(node AS BIGINT)) FILTER (WHERE depth BETWEEN 1 AND 2) AS tl
                   FROM pd GROUP BY anc)
            SELECT n.n_nationkey AS k,
                   COALESCE(array_to_string(list_sort(de.kd), ','), '') AS kids,
                   COALESCE(array_to_string(list_sort(de.ad), ','), '') AS all_desc,
                   COALESCE(array_to_string(list_sort(de.tl), ','), '') AS two_levels
            FROM nation n LEFT JOIN de ON n.n_nationkey = de.anc
            ORDER BY k"""),
  )

  /** ClickHouse `LIMIT n BY cols` (first n rows per group in the
    * ORDER BY order) spelled verbatim — ChSqlParser wraps the query in
    * a row_number window. Top-2 orders per priority by value. */
  val q29e = GraftQuery(
    "q29e_limit_by",
    (s, dir) => {
      Tables(s, dir).orders.createOrReplaceTempView("orders_l")
      s.sql("""SELECT o_orderpriority AS prio, o_orderkey AS okey,
                      round(o_totalprice, 2) AS total
               FROM orders_l
               ORDER BY prio, total DESC, okey
               LIMIT 2 BY prio""")
    },
    Some("""SELECT prio, okey, total FROM (
              SELECT o_orderpriority AS prio, o_orderkey AS okey,
                     round(o_totalprice, 2) AS total,
                     row_number() OVER (PARTITION BY o_orderpriority
                                        ORDER BY round(o_totalprice, 2) DESC, o_orderkey) AS rn
              FROM orders) t
            WHERE rn <= 2 ORDER BY prio, total DESC, okey"""),
  )

  /** ClickHouse `GROUP BY … WITH ROLLUP` verbatim — Spark's grammar
    * shares the spelling, so the dialect needs no rewrite; the work is
    * the semantics convention: Spark marks rollup subtotal rows with
    * NULL group keys (like WITH TOTALS) where ClickHouse emits
    * defaults-filled rows, so the query normalizes the markers
    * (-1/'ALL') to a deterministic, oracle-comparable shape. The
    * DuckDB oracle is GROUP BY ROLLUP over the same expressions. */
  val q29f = GraftQuery(
    "q29f_rollup",
    (s, dir) => {
      Tables(s, dir).orders.createOrReplaceTempView("orders_ru")
      s.sql("""WITH r AS (
                 SELECT CAST(toYear(o_orderdate) AS BIGINT) AS yr,
                        o_orderpriority AS prio,
                        count(*) AS cnt,
                        round(sum(o_totalprice), 2) AS total
                 FROM orders_ru
                 GROUP BY CAST(toYear(o_orderdate) AS BIGINT), o_orderpriority WITH ROLLUP)
               SELECT coalesce(yr, -1) AS yr, coalesce(prio, 'ALL') AS prio, cnt, total
               FROM r ORDER BY yr, prio""")
    },
    Some("""WITH r AS (
              SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
                     o_orderpriority AS prio,
                     count(*) AS cnt,
                     round(sum(o_totalprice), 2) AS total
              FROM orders
              GROUP BY ROLLUP (CAST(year(o_orderdate) AS BIGINT), o_orderpriority))
            SELECT coalesce(yr, -1) AS yr, coalesce(prio, 'ALL') AS prio, cnt, total
            FROM r ORDER BY yr, prio"""),
  )

  /** Exact weighted quantile in the ClickHouse parametric spelling.
    * `quantileExactWeighted(q)(x, w)` ≡ the q-quantile of the multiset
    * where each x repeats w times (nearest-rank: smallest x whose
    * cumulative weight reaches q × total). The oracle rebuilds exactly
    * that definition with a cumulative-weight window. Values are
    * rounded BEFORE aggregation so both engines bucket identical keys. */
  val q22c = GraftQuery(
    "q22c_quantile_weighted",
    (s, dir) => {
      Tables(s, dir).orders.createOrReplaceTempView("orders_qw")
      s.sql("""SELECT o_orderpriority AS prio,
                      round(quantileExactWeighted(0.5)(round(o_totalprice, 2),
                            CAST(modulo(o_orderkey, 5) + 1 AS BIGINT)), 2) AS wmed,
                      round(quantileExactWeighted(0.9)(round(o_totalprice, 2),
                            CAST(modulo(o_orderkey, 5) + 1 AS BIGINT)), 2) AS wp90
               FROM orders_qw GROUP BY 1 ORDER BY prio""")
    },
    Some("""WITH b AS (SELECT o_orderpriority AS prio, round(o_totalprice, 2) AS v,
                              o_orderkey % 5 + 1 AS w FROM orders),
                 g AS (SELECT prio, v, sum(w) AS w FROM b GROUP BY 1, 2),
                 c AS (SELECT prio, v,
                              sum(w) OVER (PARTITION BY prio ORDER BY v) AS cw,
                              sum(w) OVER (PARTITION BY prio) AS tw FROM g)
            SELECT prio,
                   round(min(CASE WHEN cw >= 0.5 * tw THEN v END), 2) AS wmed,
                   round(min(CASE WHEN cw >= 0.9 * tw THEN v END), 2) AS wp90
            FROM c GROUP BY prio ORDER BY prio"""),
  )

  /** topKWeighted in the parametric spelling: per order-year, the
    * 3 priorities with the largest total weight. Exact variant with
    * the deterministic (weight desc, value asc) tie-break; output
    * serialized per the §5 scalar convention. */
  val q23c = GraftQuery(
    "q23c_topk_weighted",
    (s, dir) => {
      Tables(s, dir).orders.createOrReplaceTempView("orders_tw")
      s.sql("""SELECT CAST(toYear(o_orderdate) AS BIGINT) AS yr,
                      arrayStringConcat(topKWeighted(3)(o_orderpriority,
                        CAST(modulo(o_custkey, 7) + 1 AS BIGINT)), ',') AS top_prios
               FROM orders_tw GROUP BY 1 ORDER BY yr""")
    },
    Some("""WITH w AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, o_orderpriority AS p,
                              sum(o_custkey % 7 + 1) AS wt
                       FROM orders GROUP BY 1, 2),
                 r AS (SELECT yr, p,
                              row_number() OVER (PARTITION BY yr ORDER BY wt DESC, p) AS rn
                       FROM w)
            SELECT yr, string_agg(p, ',' ORDER BY rn) AS top_prios
            FROM r WHERE rn <= 3 GROUP BY yr ORDER BY yr"""),
  )

  /** The INGESTION half of the file-format surface (round 16): the
    * reference's migration flow lands files then loads them, and
    * before this round only the export half (q29j's INTO OUTFILE)
    * executed. The gate drives the full round trip — a slice exported
    * INTO OUTFILE as CSVWithNames (fixture-bracketed), loaded back
    * with verbatim `INSERT INTO t FROM INFILE … FORMAT CSVWithNames`,
    * then two rows appended through the client-script
    * `INSERT INTO t (cols) FORMAT CSV⏎rows` inline spelling — and the
    * aggregates must equal the source slice plus the inline rows
    * (the oracle replays that directly over orders). */
  val q29u = GraftQuery(
    "q29u_infile",
    (s, dir) => {
      val base = s"/tmp/graft_infile/${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      graft.FixtureClock.time {
        s.sql("DROP TABLE IF EXISTS gq29u")
        val wh = new org.apache.hadoop.fs.Path(
          new org.apache.hadoop.fs.Path(new java.net.URI(s.conf.get("spark.sql.warehouse.dir"))),
          "gq29u")
        wh.getFileSystem(s.sparkContext.hadoopConfiguration).delete(wh, true)
        s.sql("""CREATE TABLE gq29u (id UInt64, prio String, total Float64)
                 ENGINE = MergeTree ORDER BY id""")
        Tables(s, dir).orders.createOrReplaceTempView("gq29u_src")
        s.sql(s"""SELECT o_orderkey AS id, o_orderpriority AS prio, o_totalprice AS total
                  FROM gq29u_src WHERE o_orderkey < 8000
                  INTO OUTFILE '$base/orders.csv' FORMAT CSVWithNames""")
      }
      s.sql(s"INSERT INTO gq29u FROM INFILE '$base/orders.csv' FORMAT CSVWithNames")
      s.sql("INSERT INTO gq29u (id, prio, total) FORMAT CSV\n9000001,9-INLINE,100.5\n9000002,9-INLINE,99.5")
      s.sql("""SELECT prio, count(*) AS cnt, round(sum(total), 2) AS total
               FROM gq29u GROUP BY prio ORDER BY prio""")
    },
    Some("""WITH base AS (SELECT o_orderpriority AS prio, o_totalprice AS total
                          FROM orders WHERE o_orderkey < 8000
                          UNION ALL SELECT '9-INLINE', 100.5
                          UNION ALL SELECT '9-INLINE', 99.5)
            SELECT prio, count(*) AS cnt, round(sum(total), 2) AS total
            FROM base GROUP BY prio ORDER BY prio"""),
  )

  val all: Seq[GraftQuery] =
    Seq(q21, q22, q22b, q22c, q22d, q22e, q23, q23b, q23c, q24, q25, q25b, q25c, q25d, q25e, q25f, q25g, q26, q27, q27b,
        q27c, q27d, q27e, q27f, q27g, q27h, q28, q28b, q28c, q28d, q28e, q28f, q28h, q28i, q28j, q28k, q28l, q28m, q28n, q28o, q28p, q28q, q28r, q29, q29b, q29c, q29d,
        q29e, q29f, q29g, q29h, q29i, q29j, q29k, q29m, q29n, q29n2, q29o, q29p, q29q, q29r, q29s, q29t, q29u, q29v, q29w, q38, q38b, q38c, q38d, q38e, q21b)
}
