"""Relational faces over the driver tables: W-series window operators,
sessionization, V2 tolerance bands, range/as-of joins, regex projection,
time-grid alignment, set ops and ROLLUP/CUBE/PIVOT."""

from __future__ import annotations

from pdf_parser_spark.faces import Face
from pdf_parser_spark.faces.shared import w8_sql, w9bot_sql
from pdf_parser_spark.plans import relational as R


# floor-log2 gap buckets as the same bounded power-comparison chain
# the Spark side folds (k = 1..40)
_gap_powers = " + ".join(
    f"CASE WHEN gap + 1 >= {2 ** _k} THEN 1 ELSE 0 END"
    for _k in range(1, 41)
)


FACES = [
    Face("w1_event_sequence", R.w1_event_sequence, """
            SELECT user_id, event_id,
                   row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq
            FROM events ORDER BY user_id, seq
        """),
    Face("w2_first_value", R.w2_first_value, """
            SELECT event_type, first_value FROM (
                SELECT event_type, value AS first_value,
                       row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
                FROM events) WHERE rn = 1 ORDER BY event_type
        """),
    Face("w3_lang_summary", R.w3_lang_summary, """
            SELECT lang, count(*) AS n_docs, round(avg(n_chars), 4) AS avg_chars
            FROM documents GROUP BY lang ORDER BY lang
        """),
    Face("v2_tolerance_bands", R.v2_tolerance_bands, """
            SELECT status, count(*) AS n FROM (
                SELECT CASE
                    WHEN l_quantity * p_retailprice = l_extendedprice THEN 'PASS'
                    WHEN abs(l_quantity * p_retailprice - l_extendedprice)
                         / abs(l_quantity * p_retailprice) <= 0.01 THEN 'WARN'
                    ELSE 'FAIL' END AS status
                FROM lineitem JOIN part ON l_partkey = p_partkey)
            GROUP BY status ORDER BY status
        """),
    Face("w4_sessionize", R.w4_sessionize, """
            WITH gaps AS (
                SELECT user_id, ts, value, event_id,
                       CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w IS NULL
                             OR CAST(floor(epoch(ts)) AS BIGINT) - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w > 1800 THEN 1 ELSE 0 END AS is_new
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), sess AS (
                SELECT user_id, value,
                       CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
                FROM gaps
            )
            SELECT user_id, session_id, count(*) AS n_events,
                   round(sum(value), 4) AS session_value
            FROM sess GROUP BY user_id, session_id ORDER BY user_id, session_id
        """),
    # strictly-ordered first-touch funnel: chained window mins over ONE
    # user partitioning, exact-bp conversion — never an events^3 self-join
    Face("w5_funnel", R.w5_funnel, """
            WITH u1 AS (
                SELECT user_id,
                       min(CASE WHEN event_type = 'view' THEN ts END) AS t1
                FROM events GROUP BY user_id
            ), u2 AS (
                SELECT e.user_id, any_value(u1.t1) AS t1,
                       min(CASE WHEN e.event_type = 'click'
                                 AND e.ts > u1.t1 THEN e.ts END) AS t2
                FROM events e JOIN u1 USING (user_id) GROUP BY e.user_id
            ), u3 AS (
                SELECT e.user_id, any_value(u2.t1) AS t1,
                       any_value(u2.t2) AS t2,
                       min(CASE WHEN e.event_type = 'purchase'
                                 AND e.ts > u2.t2 THEN e.ts END) AS t3
                FROM events e JOIN u2 USING (user_id) GROUP BY e.user_id
            ), f AS (
                SELECT count(t1) AS c1, count(t2) AS c2, count(t3) AS c3
                FROM u3
            )
            SELECT step, step_name, CAST(n AS BIGINT) AS n_users,
                   CAST(CASE WHEN c1 = 0 THEN 0
                             ELSE (10000 * n) // c1 END AS BIGINT) AS conv_bp
            FROM f, (VALUES (1, 'view'), (2, 'click'), (3, 'purchase'))
                 AS s(step, step_name),
                 LATERAL (SELECT CASE step WHEN 1 THEN c1 WHEN 2 THEN c2
                                 ELSE c3 END AS n)
            ORDER BY step
        """),
    # weekly cohort retention matrix: first-active-week cohorts x
    # week offsets, exact-bp retained share — all keyed shuffles
    # cohort retention: the same floor-epoch week rule as w4, distinct
    # (user, week) activity, min-week cohorts, bp over the offset-0 row
    Face("w7_cohort_retention", R.w7_cohort_retention, f"""
            WITH act AS (
                SELECT DISTINCT user_id,
                       CAST(floor(epoch(ts)) AS BIGINT) // {R.WEEK_S} AS week
                FROM events
            ), firsts AS (
                SELECT user_id, min(week) AS cohort_week
                FROM act GROUP BY user_id
            ), cells AS (
                SELECT f.cohort_week,
                       a.week - f.cohort_week AS week_offset,
                       CAST(count(*) AS BIGINT) AS n_active
                FROM act a JOIN firsts f USING (user_id)
                GROUP BY 1, 2
            ), size AS (
                SELECT cohort_week, n_active AS cohort_size
                FROM cells WHERE week_offset = 0
            )
            SELECT c.cohort_week, c.week_offset, c.n_active, s.cohort_size,
                   CAST((10000 * c.n_active) // s.cohort_size AS BIGINT)
                       AS retained_bp
            FROM cells c JOIN size s USING (cohort_week)
            ORDER BY c.cohort_week, c.week_offset
        """),
    # last-touch attribution: one ignorenulls struct-carry window
    # first-touch funnel: per-user conditional mins chained strictly,
    # counts of non-null steps, integer-bp conversion
    # last-touch attribution: same ignorenulls struct-carry window,
    # same lookback/direct predicates
    Face("w8_attribution", R.w8_attribution, w8_sql),
    # per-user peak-rate bot gate: ONE range-frame window (trailing
    # 60 s count, maxed per user) — exact peak, no self-join
    # peak-rate bot gate: the same trailing range frame — the exact
    # sliding-window peak via RANGE n PRECEDING over the BIGINT es
    Face("w9_bot_detect", R.w9_bot_detect, w9bot_sql),
    # RFM quartile segmentation: fixed as-of recency, total-order
    # ntiles (ties split by user_id, the documented rule)
    # RFM: identical total-order ntiles; 111 = best (recency ASC
    # seconds, F/M DESC)
    Face("w10_rfm", R.w10_rfm, f"""
            WITH pu AS (
                SELECT user_id,
                       CAST({R.RFM_ASOF_S} - max(CAST(floor(epoch(ts))
                            AS BIGINT)) AS BIGINT) AS recency_s,
                       CAST(count(*) AS BIGINT) AS frequency,
                       CAST(sum(CAST(round(value * 100) AS BIGINT))
                            AS BIGINT) AS monetary_cents
                FROM events WHERE event_type = 'purchase'
                GROUP BY user_id
            ), tiled AS (
                SELECT *,
                       CAST(ntile({R.RFM_TIERS}) OVER (
                           ORDER BY recency_s ASC, user_id ASC)
                           AS BIGINT) AS r_tier,
                       CAST(ntile({R.RFM_TIERS}) OVER (
                           ORDER BY frequency DESC, user_id ASC)
                           AS BIGINT) AS f_tier,
                       CAST(ntile({R.RFM_TIERS}) OVER (
                           ORDER BY monetary_cents DESC, user_id ASC)
                           AS BIGINT) AS m_tier
                FROM pu
            )
            SELECT user_id, recency_s, frequency, monetary_cents,
                   r_tier, f_tier, m_tier,
                   CAST(r_tier * 100 + f_tier * 10 + m_tier AS BIGINT)
                       AS segment
            FROM tiled ORDER BY user_id
        """),
    # per-week DAU/WAU stickiness in exact bp (floor-epoch periods)
    # stickiness: same floor-epoch day/week buckets, two distinct
    # aggregations, 10000*sum(DAU) div (7*WAU)
    Face("w11_stickiness", R.w11_stickiness, f"""
            WITH base AS (
                SELECT user_id,
                       CAST(floor(epoch(ts)) AS BIGINT) AS es
                FROM events
            ), days AS (
                SELECT DISTINCT user_id, es // {R.DAY_S} AS day,
                       es // {R.WEEK_S} AS week
                FROM base
            ), dau AS (
                SELECT week, day,
                       CAST(count(DISTINCT user_id) AS BIGINT) AS dau
                FROM days GROUP BY week, day
            ), wau AS (
                SELECT week, CAST(count(*) AS BIGINT) AS wau FROM (
                    SELECT DISTINCT user_id, es // {R.WEEK_S} AS week
                    FROM base)
                GROUP BY week
            )
            SELECT d.week, CAST(sum(d.dau) AS BIGINT) AS sum_dau,
                   CAST(count(*) AS BIGINT) AS n_active_days,
                   w.wau,
                   CAST(10000 * sum(d.dau) // (7 * w.wau) AS BIGINT)
                       AS stickiness_bp
            FROM dau d JOIN wau w USING (week)
            GROUP BY d.week, w.wau ORDER BY d.week
        """),
    # Pareto user-concentration curve: ceil-sized top slices, exact
    # cumulative shares off one user-dim rank window
    # concentration: same ceil slice rule (a + b - 1) div b — both
    # engines TRUNCATE integer division toward zero, so the negate
    # trick would floor, not ceil — and cumulative window
    Face("w12_user_concentration", R.w12_user_concentration, f"""
            WITH pu AS (
                SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
                FROM events GROUP BY user_id
            ), rk AS (
                SELECT user_id, n_events,
                       row_number() OVER (
                           ORDER BY n_events DESC, user_id ASC) AS rk,
                       sum(n_events) OVER (
                           ORDER BY n_events DESC, user_id ASC
                           ROWS UNBOUNDED PRECEDING) AS cum
                FROM pu
            ), tot AS (
                SELECT CAST(count(*) AS BIGINT) AS n_users,
                       CAST(sum(n_events) AS BIGINT) AS t_events
                FROM pu
            ), grid AS (
                SELECT unnest([{", ".join(str(b) for b in R.CONC_TOP_BP)}])
                           AS top_bp
            )
            SELECT CAST(g.top_bp AS BIGINT) AS top_bp,
                   CAST(r.rk AS BIGINT) AS n_top_users,
                   CAST(10000 * r.cum // t.t_events AS BIGINT)
                       AS share_bp
            FROM grid g CROSS JOIN tot t
            JOIN rk r ON r.rk = (g.top_bp * t.n_users + 9999) // 10000
            ORDER BY top_bp
        """),
    # per-type think-time histogram: floor-log2 gap buckets off one
    # (user, type) lag window — the bot signature lives at bucket 0
    Face("w13_interevent_gaps", R.w13_interevent_gaps, f"""
            WITH ev AS (
                SELECT user_id, event_type, event_id,
                       CAST(floor(epoch(ts)) AS BIGINT) AS es
                FROM events
            ), g AS (
                SELECT event_type,
                       es - lag(es) OVER (
                           PARTITION BY user_id, event_type
                           ORDER BY es, event_id) AS gap
                FROM ev
            )
            SELECT event_type,
                   CAST({_gap_powers} AS BIGINT) AS bucket,
                   CAST(count(*) AS BIGINT) AS n_gaps
            FROM g WHERE gap IS NOT NULL
            GROUP BY event_type, bucket ORDER BY event_type, bucket
        """),
    # growth accounting: dense-week WAU decomposition (new/retained/
    # resurrected/churned) with both accounting identities holding at
    # every row; churn derives as lag(n_active) - n_retained
    # growth accounting: dense weeks via range(w0, w1+1); churn =
    # lag(n_active) - n_retained so both identities hold at every row
    Face("w14_growth_accounting", R.w14_growth_accounting, f"""
            WITH uw AS (
                SELECT DISTINCT user_id,
                       CAST(floor(epoch(ts)) AS BIGINT) // {R.WEEK_S}
                           AS week
                FROM events
            ), fl AS (
                SELECT week,
                       CASE WHEN week = min(week)
                                 OVER (PARTITION BY user_id)
                            THEN 1 ELSE 0 END AS is_new,
                       CASE WHEN lag(week) OVER (
                                 PARTITION BY user_id ORDER BY week)
                                 = week - 1
                            THEN 1 ELSE 0 END AS is_retained
                FROM uw
            ), agg AS (
                SELECT week, count(*) AS n_active,
                       sum(is_new) AS n_new,
                       sum(is_retained) AS n_retained,
                       sum((1 - is_new) * (1 - is_retained))
                           AS n_resurrected
                FROM fl GROUP BY week
            ), bnd AS (SELECT min(week) AS w0, max(week) AS w1 FROM uw),
            wk AS (SELECT unnest(range(w0, w1 + 1)) AS week FROM bnd),
            dense AS (
                SELECT wk.week,
                       coalesce(n_active, 0) AS n_active,
                       coalesce(n_new, 0) AS n_new,
                       coalesce(n_retained, 0) AS n_retained,
                       coalesce(n_resurrected, 0) AS n_resurrected
                FROM wk LEFT JOIN agg ON agg.week = wk.week
            )
            SELECT CAST(week AS BIGINT) AS week,
                   CAST(n_active AS BIGINT) AS n_active,
                   CAST(n_new AS BIGINT) AS n_new,
                   CAST(n_retained AS BIGINT) AS n_retained,
                   CAST(n_resurrected AS BIGINT) AS n_resurrected,
                   CAST(coalesce(lag(n_active) OVER (ORDER BY week), 0)
                        - n_retained AS BIGINT) AS n_churned
            FROM dense ORDER BY week
        """),
    # activity Gini in exact bp: rank-weighted form over the
    # two-phase exact rank (w10/w12 machinery), one floor division
    # gaps: same lag window and the same bounded power-comparison
    # chain for floor-log2
    # activity Gini: ascending total-order rank, one floor division
    # of nonnegative BIGINTs — bit-identical in both engines
    Face("w15_activity_gini", R.w15_activity_gini, """
            WITH pu AS (
                SELECT user_id, count(*) AS n_events
                FROM events GROUP BY user_id
            ), rk AS (
                SELECT n_events,
                       row_number() OVER (
                           ORDER BY n_events ASC, user_id ASC) AS rk
                FROM pu
            )
            SELECT CAST(count(*) AS BIGINT) AS n_users,
                   CAST(sum(n_events) AS BIGINT) AS t_events,
                   CAST((10000 * (2 * sum(CAST(rk AS HUGEINT) * n_events)
                         - (count(*) + 1) * sum(n_events)))
                        // (count(*) * sum(n_events)) AS BIGINT)
                       AS gini_bp
            FROM rk
        """),
    # native session_window (third sessionize face; INCLUSIVE merge
    # boundary — an event at exactly prev+gap merges, same as W4's lag
    # rule; pinned by the oracle's `> gap` new-session test and the
    # pytest boundary pin)
    # native session_window: the lag/cumsum twin at MICROSECOND
    # precision with the INCLUSIVE break (measured, pytest-pinned:
    # Spark merges an event at exactly prev + gap — touching windows
    # DO merge; the first draft assumed strict and only the
    # engineered-boundary test caught it, the real corpus has no
    # exact-gap pair)
    Face("w6_session_window", R.w6_session_window, """
            WITH gaps AS (
                SELECT user_id, ts, value, event_id,
                       CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w IS NULL
                             OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                                > 1800 * 1000000
                            THEN 1 ELSE 0 END AS is_new
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), sess AS (
                SELECT user_id, ts, value,
                       sum(is_new) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
                FROM gaps
            )
            SELECT user_id,
                   CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start_s,
                   count(*) AS n_events,
                   round(sum(value), 4) AS session_value
            FROM sess GROUP BY user_id, sid
            ORDER BY user_id, session_start_s
        """),
    # bucketed interval join: equi join on the time bucket + exact
    # range filter — never a nested-loop range predicate
    # range join: the oracle is the PLAIN interval join — the engine's
    # bucket explode + equi join + filter must be semantics-invisible
    Face("j_range_join", R.j_range_join, f"""
            WITH iv AS (
                SELECT CAST(i AS BIGINT) AS interval_id,
                       TIMESTAMP '{R.RANGE_T0}'
                           + i * INTERVAL {R.RANGE_STRIDE_H} HOUR AS s,
                       TIMESTAMP '{R.RANGE_T0}'
                           + i * INTERVAL {R.RANGE_STRIDE_H} HOUR
                           + INTERVAL {R.RANGE_WIDTH_H} HOUR AS e
                FROM unnest(range(0, {R.RANGE_N_INTERVALS})) t(i)
            )
            SELECT interval_id, CAST(count(*) AS BIGINT) AS n_events,
                   min(event_id) AS min_event_id,
                   max(event_id) AS max_event_id
            FROM events ev JOIN iv ON ev.ts >= iv.s AND ev.ts < iv.e
            GROUP BY interval_id ORDER BY interval_id
        """),
    Face("f_regex_extract", R.f_regex_extract, """
            SELECT event_id, CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS INT) AS k
            FROM events ORDER BY event_id
        """),
    # GeoAlign-style aggregate alignment across unaligned time grids
    # 45-min counts redistributed onto the 60-min grid by overlap
    # seconds; weighted_num = sum(cnt*overlap) keeps it exact-integer
    Face("a_align_rollup", R.a_align_rollup, """
            WITH src AS (
                SELECT CAST(floor(epoch(ts) / 2700) AS BIGINT) AS sb,
                       count(*) AS cnt
                FROM events GROUP BY sb
            ), cand AS (
                SELECT sb, cnt, (sb * 2700) // 3600 + k AS db
                FROM src, (SELECT unnest([0, 1]) AS k) ks
            ), ov AS (
                SELECT db, cnt,
                       least(sb * 2700 + 2700, db * 3600 + 3600)
                       - greatest(sb * 2700, db * 3600) AS ovs
                FROM cand
            )
            SELECT CAST(db * 3600 AS BIGINT) AS window_start,
                   CAST(sum(cnt * ovs) AS BIGINT) AS weighted_num
            FROM ov WHERE ovs > 0 GROUP BY db ORDER BY window_start
        """),
    # gap-filled hourly series + forward fill (generated per-type grid,
    # last(ignorenulls) over the bounded series dim)
    # gap-fill: generated per-type hour grid + IGNORE NULLS carry-forward
    Face("a_gapfill", R.a_gapfill, """
            WITH hourly AS (
                SELECT event_type,
                       CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS h,
                       count(*) AS n_events,
                       round(avg(value), 4) AS mean_value
                FROM events GROUP BY 1, 2
            ), grid AS (
                SELECT event_type,
                       unnest(range(min(h), max(h) + 3600, 3600)) AS h
                FROM hourly GROUP BY event_type
            )
            SELECT g.event_type, g.h AS hour_start_s,
                   CAST(coalesce(hh.n_events, 0) AS BIGINT) AS n_events,
                   last_value(hh.mean_value IGNORE NULLS) OVER (
                       PARTITION BY g.event_type ORDER BY g.h
                       ROWS UNBOUNDED PRECEDING) AS filled_value,
                   hh.n_events IS NULL AS is_gap
            FROM grid g
            LEFT JOIN hourly hh ON hh.event_type = g.event_type AND hh.h = g.h
            ORDER BY g.event_type, hour_start_s
        """),
    Face("j_asof_latest_order", R.j_asof_latest_order, """
            SELECT e.event_id, o.o_orderkey, o.o_orderdate
            FROM events e LEFT JOIN LATERAL (
                SELECT o_orderkey, o_orderdate FROM orders o
                WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
                ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 1
            ) o ON TRUE
            ORDER BY event_id
        """),
    Face("u_setops", R.u_setops, """
            WITH a AS (SELECT DISTINCT c_custkey AS k FROM customer
                       WHERE c_mktsegment = 'BUILDING'),
                 b AS (SELECT DISTINCT o_custkey AS k FROM orders)
            SELECT 'except' AS op, count(*) AS n FROM (SELECT k FROM a EXCEPT SELECT k FROM b)
            UNION ALL
            SELECT 'intersect' AS op, count(*) AS n FROM (SELECT k FROM a INTERSECT SELECT k FROM b)
            UNION ALL
            SELECT 'union' AS op, count(*) AS n FROM (SELECT k FROM a UNION SELECT k FROM b)
            ORDER BY op
        """),
    Face("g_rollup_revenue", R.g_rollup_revenue, """
            SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
                   coalesce(l_linestatus, 'ALL') AS linestatus,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
                   count(*) AS n
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
            ORDER BY returnflag, linestatus
        """),
    # CUBE: all 2^d grouping sets + grouping_id lattice check
    # CUBE twin: GROUPING(a) || GROUPING(b) concatenated as bits must
    # equal Spark's grouping_id — the lattice-id agreement is part of
    # the hash
    Face("g_cube_revenue", R.g_cube_revenue, """
            SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
                   coalesce(l_linestatus, 'ALL') AS linestatus,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
                   count(*) AS n,
                   CAST(2 * GROUPING(l_returnflag)
                        + GROUPING(l_linestatus) AS BIGINT) AS gid
            FROM lineitem
            GROUP BY CUBE (l_returnflag, l_linestatus)
            ORDER BY gid, returnflag, linestatus
        """),
    # PIVOT with an explicit value list (the only 10^12-safe form)
    # PIVOT twin: conditional aggregation — the portable spelling of a
    # bounded pivot (DuckDB's PIVOT statement reorders differently)
    Face("q_pivot_lang_matrix", R.q_pivot_lang_matrix, """
            SELECT source,
                   CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS n_de,
                   CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
                   CAST(sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS n_es,
                   CAST(sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS n_fr
            FROM documents GROUP BY source ORDER BY source
        """),
]
