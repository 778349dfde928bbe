"""Reference-replica gold DAG gates (VERDICT r7 "What's missing" #3).

``examples/gold_replica`` mirrors the reference's heaviest composition —
the 405-line model-pair macro
``macros/gold_active_users_and_devices_with_ephemeral.sql:1-405`` plus its
upstream DAG (``models/spark/base/active_devices.sql:20-93``,
``models/spark/gold/gold_orders.sql`` money columns + ``:696`` DISTRIBUTE
BY sink, ``models/spark/engagement/user_segments.sql:13-185``) — run for
real through the engine (seed → incremental insert_overwrite with a
lookback window → weekly full reload → SCD2 snapshot), then compared
against a DuckDB oracle that recomputes the ENTIRE chain from scratch at
the final run date.  An incremental build that touches the wrong
partitions, a lookback that misses a late-arriving flag, or a dev-target
namespacing bug all surface as value mismatches here.

Granularity mapping (30-day gate corpus vs the reference's multi-year
warehouse): month_msk → week_msk, 200-day lookback → 16 days, 1..28-day
'regular' recency band → 1..7, retention horizons rd1/rd3/rd7/rw1 ≤ 7
days, CURRENT_DATE → var('run_date') so the oracle is deterministic.

Scale notes: the heavy windows in the macro chain partition by the entity
id (users/devices — high cardinality, no skew), the gold sink distributes
by (week, hash-bucket) exactly like the reference's gold_orders sink, and
the incremental branch rewrites only the lookback window's partitions —
at 100 TB a daily run touches ~1/15th of the table, and the weekly
full-reload run amortizes staleness the lookback tolerates.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from dbt_spark_models_spark.operators import gate_db, query, require_success

_PROJECT_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "examples",
    "gold_replica",
)

def _build(
    spark: SparkSession,
    sf_dir: str,
    run1: str,
    run2: str,
    tag: str,
    expect_full_reload: bool = False,
) -> str:
    """Full build at ``run1``, then a second run at ``run2`` (incremental,
    unless ``run2`` lands on the ``full_reload_on`` weekday).  Snapshots
    fire after each run with that run's timestamp.  Returns the db."""
    from dbt_spark_models_spark.plans import Project, Runner

    def build(db: str) -> None:
        project = Project.load(_PROJECT_DIR)
        r1 = Runner(
            spark=spark,
            project=project,
            database=db,
            target_name="dev",
            vars={"sf_dir": sf_dir, "run_date": run1},
        )
        require_success(
            r1.seed() + r1.run() + r1.snapshot(run_ts=f"{run1} 00:00:00"),
            "gold_replica run1",
        )
        r2 = Runner(
            spark=spark,
            project=project,
            database=db,
            target_name="dev",
            vars={"sf_dir": sf_dir, "run_date": run2},
        )
        run2_results = r2.run()
        require_success(
            run2_results + r2.snapshot(run_ts=f"{run2} 00:00:00") + r2.test(),
            "gold_replica run2",
        )
        gold_actions = {
            r.node: r.action
            for r in run2_results
            if r.node.startswith("gold_active_") or r.node == "active_users"
        }
        if expect_full_reload:
            # full_reload_on weekday: the incremental models must have taken
            # the full-rebuild branch (CTAS), not insert_overwrite
            wrong = {n: a for n, a in gold_actions.items() if a != "created"}
            if wrong:
                raise RuntimeError(f"expected weekly full reload, got {wrong}")
        else:
            wrong = {
                n: a for n, a in gold_actions.items() if a != "overwritten_partitions"
            }
            if wrong:
                raise RuntimeError(f"expected incremental overwrite, got {wrong}")

    db, _ = gate_db(
        spark,
        "gold_replica_",
        sf_dir,
        f"{run1}|{run2}|{tag}",
        probe="gold__active_users_with_ephemeral",
        build=build,
    )
    return db


def _seed_values_sql() -> str:
    """The gold_countries seed, inlined for the oracle."""
    rows = []
    with open(os.path.join(_PROJECT_DIR, "seeds", "gold_countries.csv")) as f:
        next(f)
        for line in f:
            cc, top, tier = line.strip().split(",")
            rows.append(f"('{cc}', '{top}', '{tier}')")
    return (
        "(VALUES "
        + ", ".join(rows)
        + ") AS gc(country_code, top_country_code, country_priority_type)"
    )


def _gold_oracle(entity: str, run_date: str) -> str:
    """From-scratch DuckDB recomputation of the final gold table at
    ``run_date`` — the incremental two-run engine build must match it."""
    dev = entity == "device_id"
    nf = "device" if dev else "user"
    ent_expr = (
        "e.user_id * 3 + (e.event_id % 3)" if dev else "e.user_id"
    )
    funnel_agg = (
        """
        bool_or(e.event_type = 'view') AS is_product_opened,
        bool_or(e.event_type = 'click') AS is_product_added_to_cart,
        bool_or(e.event_type = 'purchase') AS is_product_purchased,
        bool_or(e.event_type = 'signup') AS is_checkout_started,
        bool_or(e.event_type = 'error') AS is_cart_opened,"""
        if dev
        else ""
    )
    funnel_cols = (
        """
        a.is_product_opened,
        a.is_product_added_to_cart,
        a.is_product_purchased,
        a.is_checkout_started,
        a.is_cart_opened,"""
        if dev
        else ""
    )
    funnel_cols_main = funnel_cols.replace("a.", "main.")
    funnel_final = (
        """
    is_product_opened,
    is_product_added_to_cart,
    is_product_purchased,
    is_checkout_started,
    is_cart_opened,"""
        if dev
        else ""
    )
    return f"""
WITH active AS (
    SELECT
        {ent_expr} AS {entity},
        CAST(e.ts AS DATE) AS day,
        MAX(CASE e.event_id % 3 WHEN 0 THEN 'ios' WHEN 1 THEN 'android' ELSE 'web' END) AS platform,
        MIN(CASE WHEN e.value < 2.0 THEN 1 ELSE 0 END) = 1 AS is_ephemeral,
        MAX(c.c_mktsegment) AS app_language,
        MAX(n.n_name) AS country,
        MAX(CASE WHEN c.c_nationkey < 12 THEN 'SIA' ELSE 'JMT' END) AS legal_entity,{funnel_agg}
        MAX(e.user_id) AS real_user_id
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE CAST(e.ts AS DATE) < DATE '{run_date}'
    GROUP BY 1, 2
),
min_dates AS (
    SELECT {ent_expr} AS {entity}, MIN(CAST(e.ts AS DATE)) AS dt
    FROM events e WHERE CAST(e.ts AS DATE) < DATE '{run_date}' GROUP BY 1
),
base AS (
    SELECT a.*, m.dt AS join_day, a.day = m.dt AS is_new_{nf},
           CAST(date_trunc('week', a.day) AS DATE) AS week_msk
    FROM active a JOIN min_dates m USING ({entity})
),
gold_orders AS (
    SELECT
        e.event_id AS order_id,
        e.user_id,
        e.user_id * 3 + (e.event_id % 3) AS device_id,
        e.user_id AS real_user_id,
        CAST(e.ts AS DATE) AS order_date_msk,
        n.n_name AS country_code,
        CASE e.event_id % 3 WHEN 0 THEN 'ios' WHEN 1 THEN 'android' ELSE 'web' END AS platform,
        CAST(CAST(ROUND(e.value * 100) AS BIGINT) AS DOUBLE) / 100 AS gmv_initial,
        CAST((CAST(ROUND(e.value * 100) AS BIGINT) * 95) // 100 AS DOUBLE) / 100 AS gmv_final,
        CAST((CAST(ROUND(e.value * 100) AS BIGINT) * 22) // 100 AS DOUBLE) / 100 AS order_gross_profit_final_estimated,
        CAST((CAST(ROUND(e.value * 100) AS BIGINT) * 20) // 100 AS DOUBLE) / 100 AS order_gross_profit_final,
        CAST((CAST(ROUND(e.value * 100) AS BIGINT) * 18) // 100 AS DOUBLE) / 100 AS ecgp_initial,
        CAST((CAST(ROUND(e.value * 100) AS BIGINT) * 16) // 100 AS DOUBLE) / 100 AS ecgp_final
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE e.event_type = 'purchase' AND CAST(e.ts AS DATE) < DATE '{run_date}'
),
uniq_regions AS (
    SELECT n.n_name AS country_code, r.r_name AS region_name
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE n.n_nationkey <> 4
),
purch AS (
    SELECT DISTINCT real_user_id, order_date_msk AS pd FROM gold_orders
),
pd_sets AS (
    SELECT real_user_id, list(pd ORDER BY pd) AS pd_set, MIN(pd) AS day_join
    FROM purch GROUP BY 1
),
calc AS (
    SELECT DISTINCT real_user_id, pd_new FROM (
        SELECT real_user_id, pd AS pd_new FROM purch
        UNION ALL SELECT real_user_id, pd + 3 FROM purch
        UNION ALL SELECT real_user_id, pd + 6 FROM purch
        UNION ALL SELECT real_user_id, pd + 12 FROM purch
        UNION ALL SELECT real_user_id, day_join FROM pd_sets
    )
),
seg_stats AS (
    SELECT
        c.real_user_id,
        c.pd_new AS awd,
        len(list_distinct(list_transform(list_filter(s.pd_set,
            x -> x > c.pd_new - 3 AND x <= c.pd_new), x -> day(x) % 3))) AS stat_3d,
        len(list_distinct(list_transform(list_filter(s.pd_set,
            x -> x > c.pd_new - 6 AND x <= c.pd_new), x -> day(x) % 6))) AS stat_6d,
        len(list_distinct(list_transform(list_filter(s.pd_set,
            x -> x > c.pd_new - 12 AND x <= c.pd_new), x -> day(x)))) AS stat_12d
    FROM calc c JOIN pd_sets s USING (real_user_id)
),
seg0 AS (
    SELECT real_user_id, awd,
        CASE WHEN stat_12d >= 10 THEN 'Frequent buyers'
             WHEN stat_3d = 3 OR stat_6d >= 4 THEN 'Regular buyers'
             WHEN stat_3d = 0 THEN 'Non-buyers'
             ELSE 'Occasional buyers' END AS user_segment
    FROM seg_stats
),
seg1 AS (
    SELECT *, awd + 1 AS eff_day,
        CASE WHEN user_segment <> LAG(user_segment) OVER (PARTITION BY real_user_id ORDER BY awd)
             THEN 1 ELSE 0 END AS chg
    FROM seg0
),
seg2 AS (
    SELECT *,
        COALESCE(LEAD(eff_day) OVER (PARTITION BY real_user_id ORDER BY awd) - 1,
                 DATE '9999-12-31') AS next_eff_day,
        SUM(chg) OVER (PARTITION BY real_user_id ORDER BY awd) AS chg_cnt
    FROM seg1
),
user_segments AS (
    SELECT real_user_id, user_segment,
           MIN(eff_day) AS eff_day, MAX(next_eff_day) AS next_eff_day
    FROM seg2 GROUP BY real_user_id, user_segment, chg_cnt
),
first_order_dates AS (
    SELECT {entity}, MIN(order_date_msk) AS dt FROM gold_orders GROUP BY 1
),
orders_ext1 AS (
    SELECT
        {entity},
        order_date_msk AS date_msk,
        country_code,
        platform,
        SUM(gmv_initial) AS gmv_per_day_initial,
        SUM(gmv_final) AS gmv_per_day_final,
        SUM(order_gross_profit_final_estimated) AS ogp_e,
        SUM(order_gross_profit_final) AS ogp,
        SUM(ecgp_initial) AS ecgp_i,
        SUM(ecgp_final) AS ecgp_f,
        COUNT(order_id) AS number_of_orders,
        COUNT(order_id) > 0 AS is_converted,
        SUM(SUM(gmv_initial)) OVER (PARTITION BY {entity}, order_date_msk, country_code) AS gmv_per_cc,
        SUM(SUM(gmv_initial)) OVER (PARTITION BY {entity}, order_date_msk, platform) AS gmv_per_pf
    FROM gold_orders
    GROUP BY 1, 2, 3, 4
),
orders_ext2 AS (
    SELECT {entity}, date_msk,
        SUM(gmv_per_day_initial) AS gmv_per_day_initial,
        SUM(gmv_per_day_final) AS gmv_per_day_final,
        SUM(ogp_e) AS ogp_e, SUM(ogp) AS ogp,
        SUM(ecgp_i) AS ecgp_i, SUM(ecgp_f) AS ecgp_f,
        CAST(SUM(number_of_orders) AS BIGINT) AS number_of_orders,
        bool_or(is_converted) AS is_converted
    FROM orders_ext1 GROUP BY 1, 2
),
adjusted_slices AS (
    SELECT DISTINCT {entity}, date_msk AS day,
        FIRST_VALUE(country_code) OVER (PARTITION BY {entity}, date_msk ORDER BY gmv_per_cc DESC, country_code) AS cc_adj,
        FIRST_VALUE(platform) OVER (PARTITION BY {entity}, date_msk ORDER BY gmv_per_pf DESC, platform) AS pf_adj
    FROM orders_ext1
),
active_ext0 AS (
    SELECT {entity}, day,
        LAG(day) OVER (PARTITION BY {entity} ORDER BY day) AS prev_date_msk,
        LEAD(day) OVER (PARTITION BY {entity} ORDER BY day) AS next_date_msk,
        bool_and(is_ephemeral) OVER (PARTITION BY {entity}) AS min_is_ephemeral
    FROM base
),
active_ext1 AS (
    SELECT
        main.{entity},
        main.day AS date_msk,
        main.real_user_id,
        main.join_day AS join_date_msk,
        main.legal_entity,{funnel_cols_main}
        COALESCE(adj.cc_adj, main.country) AS country_code,
        main.app_language,
        COALESCE(adj.pf_adj, main.platform) AS platform,
        main.is_ephemeral,
        CAST(main.day - main.join_day AS INT) AS {nf}_lifetime,
        aux.prev_date_msk,
        aux.next_date_msk,
        aux.min_is_ephemeral,
        main.is_new_{nf}
    FROM base AS main
    JOIN active_ext0 AS aux USING ({entity}, day)
    LEFT JOIN adjusted_slices AS adj USING ({entity}, day)
),
active_ext2 AS (
    SELECT *,
        CASE WHEN is_new_{nf} THEN 'new'
             WHEN prev_date_msk_lag BETWEEN 1 AND 7 THEN 'regular'
             ELSE 'reactivated' END AS previous_activity_{nf}_group
    FROM (
        SELECT *,
            CAST(CASE WHEN a_l = 0 THEN {nf}_lifetime ELSE a_l END AS INT) AS prev_date_msk_lag,
            CAST(next_date_msk - date_msk AS INT) AS next_date_msk_lag
        FROM (
            SELECT *, COALESCE(date_msk - prev_date_msk, 0) AS a_l FROM active_ext1
        )
    )
),
active_ext3 AS (
    SELECT
        a.{entity}, a.date_msk, a.real_user_id, a.country_code, a.platform,
        a.legal_entity,{funnel_cols}
        a.app_language, a.is_new_{nf}, a.join_date_msk, a.{nf}_lifetime,
        a.prev_date_msk_lag, a.next_date_msk_lag, a.previous_activity_{nf}_group,
        a.min_is_ephemeral AS is_ephemeral_{nf},
        COALESCE(b.gmv_per_day_initial, 0) AS gmv_per_day_initial,
        COALESCE(b.gmv_per_day_final, 0) AS gmv_per_day_final,
        COALESCE(b.ogp_e, 0) AS ogp_e,
        COALESCE(b.ogp, 0) AS ogp,
        COALESCE(b.ecgp_i, 0) AS ecgp_i,
        COALESCE(b.ecgp_f, 0) AS ecgp_f,
        COALESCE(b.number_of_orders, 0) AS number_of_orders,
        COALESCE(a.date_msk >= f.dt, FALSE) AS is_payer,
        COALESCE(b.is_converted, FALSE) AS is_converted
    FROM active_ext2 AS a
    LEFT JOIN orders_ext2 AS b USING ({entity}, date_msk)
    LEFT JOIN first_order_dates AS f USING ({entity})
),
active_ext4 AS (
    SELECT *,
        -- guard DATEDIFF(run_date - 1, d) >= N  ⟺  run_date - d >= N + 1
        CASE WHEN DATE '{run_date}' - date_msk >= 2 THEN
            (COUNT(*) OVER (PARTITION BY {entity} ORDER BY (date_msk - DATE '1970-01-01') RANGE BETWEEN 1 FOLLOWING AND 1 FOLLOWING)) > 0
        END AS is_rd1,
        CASE WHEN DATE '{run_date}' - date_msk >= 4 THEN
            (COUNT(*) OVER (PARTITION BY {entity} ORDER BY (date_msk - DATE '1970-01-01') RANGE BETWEEN 3 FOLLOWING AND 3 FOLLOWING)) > 0
        END AS is_rd3,
        CASE WHEN DATE '{run_date}' - date_msk >= 8 THEN
            (COUNT(*) OVER (PARTITION BY {entity} ORDER BY (date_msk - DATE '1970-01-01') RANGE BETWEEN 7 FOLLOWING AND 7 FOLLOWING)) > 0
        END AS is_rd7,
        CASE WHEN DATE '{run_date}' - date_msk >= 8 THEN
            (COUNT(*) OVER (PARTITION BY {entity} ORDER BY (date_msk - DATE '1970-01-01') RANGE BETWEEN 1 FOLLOWING AND 7 FOLLOWING)) > 0
        END AS is_rw1,
        CASE WHEN DATE '{run_date}' - date_msk >= 7 THEN
            (next_date_msk_lag > 7 OR (next_date_msk_lag IS NULL AND DATE '{run_date}' - date_msk >= 7))
        END AS is_churned_7,
        CASE WHEN DATE '{run_date}' - date_msk >= 8 THEN
            bool_or(is_converted) OVER (PARTITION BY {entity} ORDER BY (date_msk - DATE '1970-01-01') RANGE BETWEEN 1 FOLLOWING AND 7 FOLLOWING)
        END AS is_converted_next_w1
    FROM active_ext3
),
active_ext5 AS (
    SELECT a.*,
        COALESCE(gc.top_country_code, 'Other') AS top_country_code,
        COALESCE(gc.country_priority_type, 'Other') AS country_priority_type,
        COALESCE(b.region_name, 'Other') AS region_name
    FROM active_ext4 AS a
    LEFT JOIN uniq_regions AS b USING (country_code)
    LEFT JOIN {_seed_values_sql()} ON a.country_code = gc.country_code
),
active_ext6 AS (
    SELECT a.*, COALESCE(s.user_segment, 'Non-buyers') AS real_user_segment
    FROM active_ext5 AS a
    LEFT JOIN user_segments AS s
        ON a.real_user_id = s.real_user_id
        AND a.date_msk >= s.eff_day AND a.date_msk <= s.next_eff_day
)
SELECT
    date_msk,
    {entity},
    real_user_id,
    country_code,
    top_country_code,
    country_priority_type,
    region_name,
    app_language,
    platform,
    legal_entity,{funnel_final}
    join_date_msk,
    real_user_segment,
    is_new_{nf},
    is_ephemeral_{nf},
    {nf}_lifetime,
    previous_activity_{nf}_group,
    prev_date_msk_lag,
    next_date_msk_lag,
    ROUND(gmv_per_day_initial, 2) AS gmv_per_day_initial,
    ROUND(gmv_per_day_final, 2) AS gmv_per_day_final,
    ROUND(ogp_e, 2) AS order_gross_profit_per_day_final_estimated,
    ROUND(ogp, 2) AS order_gross_profit_per_day_final,
    ROUND(ecgp_i, 2) AS ecgp_per_day_initial,
    ROUND(ecgp_f, 2) AS ecgp_per_day_final,
    number_of_orders,
    is_payer,
    is_converted,
    -- nullable booleans render None (Spark) vs NaN (DuckDB) through
    -- pandas; INT canonicalization keeps the driver hash comparable
    CAST(is_rd1 AS INT) AS is_rd1,
    CAST(is_rd3 AS INT) AS is_rd3,
    CAST(is_rd7 AS INT) AS is_rd7,
    CAST(is_rw1 AS INT) AS is_rw1,
    CAST(is_churned_7 AS INT) AS is_churned_7,
    CAST(is_converted_next_w1 AS INT) AS is_converted_next_w1,
    CAST(date_trunc('week', date_msk) AS DATE) AS week_msk
FROM active_ext6
"""


_NULLABLE_FLAGS = (
    "is_rd1",
    "is_rd3",
    "is_rd7",
    "is_rw1",
    "is_churned_7",
    "is_converted_next_w1",
)


def _canonical_flags(df: DataFrame) -> DataFrame:
    """Cast the maturity-gated BOOLEAN flags (NULL until enough future
    days exist) to INT for the oracle compare: a nullable boolean fetches
    as None on the Spark side but NaN on the DuckDB side of the driver's
    pandas path, so the canonical hash can never match; nullable ints
    coerce to float64/NaN on BOTH sides.  The stored table keeps real
    booleans — this is gate-level rendering only."""
    from pyspark.sql import functions as F

    for c in _NULLABLE_FLAGS:
        df = df.withColumn(c, F.col(c).cast("int"))
    return df


@query("engine_gold_replica_users", oracle=_gold_oracle("user_id", "2024-01-30"))
def engine_gold_replica_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-run engine build (full @ 2024-01-22, incremental insert_overwrite
    @ 2024-01-30, 16-day lookback) of the macro-generated USER gold table;
    the oracle recomputes the whole DAG from scratch at the final date, so
    preserved partitions from run 1 must already agree with a full rebuild
    (the insert-overwrite parity trap, SURVEY.md §7)."""
    db = _build(spark, sf_dir, "2024-01-22", "2024-01-30", "main")
    return _canonical_flags(spark.table(f"{db}.gold__active_users_with_ephemeral"))


@query("engine_gold_replica_devices", oracle=_gold_oracle("device_id", "2024-01-30"))
def engine_gold_replica_devices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEVICE variant of the same two-run build — same macro, different
    entity argument: device grain, funnel booleans, device lifetime
    (reference macro's device branch, lines 5-26/142-154)."""
    db = _build(spark, sf_dir, "2024-01-22", "2024-01-30", "main")
    return _canonical_flags(spark.table(f"{db}.gold__active_devices_with_ephemeral"))


@query(
    "engine_gold_replica_weekly_reload",
    oracle=_gold_oracle("user_id", "2024-01-27"),
)
def engine_gold_replica_weekly_reload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly full-reload branch (reference meta 'full_reload_on': '6' ×9):
    the second run lands on a Saturday (2024-01-27), so the runner must
    take the full-refresh CTAS branch instead of insert_overwrite —
    enforced by _build(expect_full_reload=True) — and the result must
    equal the from-scratch oracle at that date."""
    db = _build(
        spark, sf_dir, "2024-01-21", "2024-01-27", "reload", expect_full_reload=True
    )
    return _canonical_flags(spark.table(f"{db}.gold__active_users_with_ephemeral"))


_SCD2_ORACLE = """
WITH gold_orders AS (
    SELECT e.user_id AS real_user_id, CAST(e.ts AS DATE) AS order_date_msk,
           CAST(e.ts AS DATE) < DATE '2024-01-22' AS in_batch1
    FROM events e
    WHERE e.event_type = 'purchase' AND CAST(e.ts AS DATE) < DATE '2024-01-30'
),
seg_at AS (
    -- current segment per user as of each run's data cutoff: the segment
    -- row whose validity interval contains 9999-12-31 (the open row)
    SELECT 1 AS batch, real_user_id, user_segment FROM (
        {seg1}
    ) WHERE next_eff_day = DATE '9999-12-31'
    UNION ALL
    SELECT 2 AS batch, real_user_id, user_segment FROM (
        {seg2}
    ) WHERE next_eff_day = DATE '9999-12-31'
),
b1 AS (SELECT real_user_id, user_segment FROM seg_at WHERE batch = 1),
b2 AS (SELECT real_user_id, user_segment FROM seg_at WHERE batch = 2)
SELECT
    COALESCE(b1.real_user_id, b2.real_user_id) AS real_user_id,
    b1.user_segment AS segment_at_run1,
    b2.user_segment AS segment_at_run2,
    CASE
        WHEN b1.real_user_id IS NULL THEN 1        -- appeared at run 2
        WHEN b2.real_user_id IS NULL THEN 1        -- hard-deleted at run 2
        WHEN b1.user_segment <> b2.user_segment THEN 2
        ELSE 1
    END AS n_versions,
    CAST(b2.real_user_id IS NOT NULL AS BOOLEAN) AS has_current
FROM b1 FULL OUTER JOIN b2 USING (real_user_id)
"""


def _seg_subquery(cutoff: str) -> str:
    """Segment table recomputed from purchases before ``cutoff`` (the
    same construction as in _gold_oracle, parameterized by data cutoff)."""
    return f"""
        WITH purch AS (
            SELECT DISTINCT e.user_id AS real_user_id, CAST(e.ts AS DATE) AS pd
            FROM events e
            WHERE e.event_type = 'purchase' AND CAST(e.ts AS DATE) < DATE '{cutoff}'
        ),
        pd_sets AS (
            SELECT real_user_id, list(pd ORDER BY pd) AS pd_set, MIN(pd) AS day_join
            FROM purch GROUP BY 1
        ),
        calc AS (
            SELECT DISTINCT real_user_id, pd_new FROM (
                SELECT real_user_id, pd AS pd_new FROM purch
                UNION ALL SELECT real_user_id, pd + 3 FROM purch
                UNION ALL SELECT real_user_id, pd + 6 FROM purch
                UNION ALL SELECT real_user_id, pd + 12 FROM purch
                UNION ALL SELECT real_user_id, day_join FROM pd_sets
            )
        ),
        seg_stats AS (
            SELECT c.real_user_id, c.pd_new AS awd,
                len(list_distinct(list_transform(list_filter(s.pd_set,
                    x -> x > c.pd_new - 3 AND x <= c.pd_new), x -> day(x) % 3))) AS stat_3d,
                len(list_distinct(list_transform(list_filter(s.pd_set,
                    x -> x > c.pd_new - 6 AND x <= c.pd_new), x -> day(x) % 6))) AS stat_6d,
                len(list_distinct(list_transform(list_filter(s.pd_set,
                    x -> x > c.pd_new - 12 AND x <= c.pd_new), x -> day(x)))) AS stat_12d
            FROM calc c JOIN pd_sets s USING (real_user_id)
        ),
        seg0 AS (
            SELECT real_user_id, awd,
                CASE WHEN stat_12d >= 10 THEN 'Frequent buyers'
                     WHEN stat_3d = 3 OR stat_6d >= 4 THEN 'Regular buyers'
                     WHEN stat_3d = 0 THEN 'Non-buyers'
                     ELSE 'Occasional buyers' END AS user_segment
            FROM seg_stats
        ),
        seg1 AS (
            SELECT *, awd + 1 AS eff_day,
                CASE WHEN user_segment <> LAG(user_segment) OVER (PARTITION BY real_user_id ORDER BY awd)
                     THEN 1 ELSE 0 END AS chg
            FROM seg0
        ),
        seg2 AS (
            SELECT *,
                COALESCE(LEAD(eff_day) OVER (PARTITION BY real_user_id ORDER BY awd) - 1,
                         DATE '9999-12-31') AS next_eff_day,
                SUM(chg) OVER (PARTITION BY real_user_id ORDER BY awd) AS chg_cnt
            FROM seg1
        )
        SELECT real_user_id, user_segment, MAX(next_eff_day) AS next_eff_day
        FROM seg2 GROUP BY real_user_id, user_segment, chg_cnt
    """


@query(
    "engine_gold_replica_segments_scd2",
    oracle=_SCD2_ORACLE.format(
        seg1=_seg_subquery("2024-01-22"), seg2=_seg_subquery("2024-01-30")
    ),
)
def engine_gold_replica_segments_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 snapshot branch: user_segment_snapshot (check strategy,
    invalidate_hard_deletes) fires after each of the two runs; per user,
    the version count must reflect whether the current segment changed
    between the 2024-01-22 and 2024-01-30 data cutoffs, and the run-1 /
    run-2 states must match the oracle's two independently recomputed
    segmentations (reference snapshots/spark/b2b_mart/*_snapshot.sql
    pattern downstream of a computed model)."""
    from pyspark.sql import functions as F

    db = _build(spark, sf_dir, "2024-01-22", "2024-01-30", "main")
    snap = spark.table(f"{db}.user_segment_snapshot")
    ts1 = "2024-01-22 00:00:00"
    return snap.groupBy("real_user_id").agg(
        F.max(F.when(F.col("dbt_valid_from") == ts1, F.col("user_segment"))).alias(
            "segment_at_run1"
        ),
        F.max(
            F.when(F.col("dbt_valid_to").isNull(), F.col("user_segment"))
        ).alias("segment_at_run2"),
        F.count(F.lit(1)).alias("n_versions"),
        F.max(F.col("dbt_valid_to").isNull()).alias("has_current"),
    )
