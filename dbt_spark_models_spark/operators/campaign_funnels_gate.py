"""Campaign-funnels replica gate (reference
``models/spark/onfy/onfy_source_campaign_funnels.sql`` — the reference's
LARGEST single model, 1,407 lines).

``examples/campaign_funnels`` reproduces its composition at gate scale:
nested-payload projection (product id out of the JSON ``props`` column,
like ``payload.productId``), per-(device, product, event-type) idle-gap
sessionization, session-first MIN_BY dedup, a chain of bounded interval
attribution joins (preview → first opening, preview → first
medicine-group-mate cart adding, adding → first order), and a flat
UNION ALL of funnel source variants, materialized as rolling-window
incremental insert_overwrite by event date.  The oracle recomputes the
whole chain in DuckDB from the raw parquet.

Scale notes: every window and interval join keys on device_id (high
cardinality — one exchange feeds lag/session/lead chains); the interval
joins are equi joins on (device, product) with a range residual, so
Catalyst plans SMJ/shuffled-hash on the dense keys, never a cartesian;
the medicine-group expansion is a broadcast self-join of a ≤10-row dict.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from dbt_spark_models_spark.operators import gate_db, query, require_success

_PROJECT_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "examples",
    "campaign_funnels",
)

_RUN_DATE = "2024-01-30"
_WINDOW_DAYS = 14


def _build(spark: SparkSession, sf_dir: str) -> str:
    from dbt_spark_models_spark.plans import Project, Runner

    def build(db: str) -> None:
        r = Runner(
            spark=spark,
            project=Project.load(_PROJECT_DIR),
            database=db,
            target_name="dev",
            vars={"sf_dir": sf_dir, "run_date": _RUN_DATE},
        )
        require_success(r.seed() + r.run() + r.test(), "campaign_funnels build")

    db, _ = gate_db(
        spark, "campaign_funnels_", sf_dir, probe="campaign_funnels", build=build
    )
    return db


def _chain(run_date: str) -> str:
    """Full from-scratch funnel chain at ``run_date`` (DuckDB)."""
    return f"""
WITH dim_product_dict AS (
    SELECT p_partkey AS product_id, p_brand AS medicine_group_id
    FROM part WHERE p_partkey < 10
),
medicine_group_products AS (
    SELECT d1.product_id AS initial_product_id,
           d2.product_id AS medicine_group_product_id
    FROM dim_product_dict d1
    JOIN dim_product_dict d2 ON d1.medicine_group_id = d2.medicine_group_id
),
orders_info AS (
    SELECT e.event_id AS order_id,
           e.user_id AS device_id,
           e.ts AS order_ts,
           CAST(json_extract(e.props, '$.k') AS INT) % 10 AS product_id,
           1 + e.event_id % 3 AS quantity,
           CAST(CAST(ROUND(e.value * 100) AS BIGINT) AS DOUBLE) / 100 AS products_price,
           CAST((CAST(ROUND(e.value * 100) AS BIGINT) * 110) // 100 AS DOUBLE) / 100 AS before_products_price
    FROM events e
    WHERE e.event_type = 'purchase'
      AND CAST(e.ts AS DATE) < DATE '{run_date}'
      AND CAST(e.ts AS DATE) >= DATE '{run_date}' - {_WINDOW_DAYS}
),
raw_events AS (
    SELECT e.user_id AS device_id,
           CASE WHEN e.event_id % 3 = 0 THEN 'apps'
                WHEN e.event_id % 3 = 1 THEN 'mobile'
                ELSE 'desktop' END AS platform,
           e.event_id,
           e.ts AS event_ts,
           CAST(e.ts AS DATE) AS event_dt,
           e.event_type,
           CAST(json_extract(e.props, '$.k') AS INT) % 10 AS product_id,
           CASE WHEN e.event_id % 5 = 0 THEN 'searchProduct'
                WHEN e.event_id % 5 = 1 THEN 'searchCarousel'
                WHEN e.event_id % 5 = 2 THEN 'recommendations'
                WHEN e.event_id % 5 = 3 THEN 'previouslyBought'
                ELSE '' END AS widget_type,
           CASE WHEN e.event_id % 4 = 0 THEN 'home'
                WHEN e.event_id % 4 = 1 THEN 'search'
                WHEN e.event_id % 4 = 2 THEN 'product'
                ELSE 'cart' END AS source_screen,
           'camp_' || CAST(e.user_id % 7 AS VARCHAR) AS utm_campaign
    FROM events e
    WHERE CAST(e.ts AS DATE) < DATE '{run_date}'
      AND CAST(e.ts AS DATE) >= DATE '{run_date}' - {_WINDOW_DAYS}
      AND e.event_type IN ('view', 'click', 'signup', 'error')
),
events_with_flags AS (
    SELECT *,
        CASE WHEN prev_event_ts IS NULL THEN 1
             WHEN CAST(FLOOR(date_part('epoch', event_ts)) AS BIGINT)
                  - CAST(FLOOR(date_part('epoch', prev_event_ts)) AS BIGINT) > 43200 THEN 1
             ELSE 0 END AS is_new_session
    FROM (
        SELECT *,
            LAG(event_ts) OVER (
                PARTITION BY device_id, product_id, event_type ORDER BY event_ts
            ) AS prev_event_ts
        FROM raw_events
    )
),
sessionized AS (
    SELECT *,
        SUM(is_new_session) OVER (
            PARTITION BY device_id, product_id, event_type ORDER BY event_ts
            ROWS UNBOUNDED PRECEDING
        ) AS session_number
    FROM events_with_flags
),
agg_sessions AS (
    SELECT
        device_id,
        arg_min(platform, event_ts) AS platform,
        CASE WHEN event_type = 'view' THEN 'preview'
             WHEN event_type = 'click' THEN 'opening'
             WHEN event_type = 'signup' THEN 'adding'
             ELSE 'banner' END AS event_type,
        session_number,
        arg_min(event_id, event_ts) AS event_id,
        MIN(event_dt) AS event_dt,
        MIN(event_ts) AS event_ts,
        product_id,
        arg_min(widget_type, event_ts) AS widget_type,
        arg_min(source_screen, event_ts) AS source_screen,
        utm_campaign
    FROM sessionized
    GROUP BY device_id,
        CASE WHEN event_type = 'view' THEN 'preview'
             WHEN event_type = 'click' THEN 'opening'
             WHEN event_type = 'signup' THEN 'adding'
             ELSE 'banner' END,
        session_number, product_id, utm_campaign
),
product_previews AS (
    SELECT *,
        LEAD(event_ts) OVER (
            PARTITION BY device_id, product_id ORDER BY event_ts
        ) AS next_event_ts
    FROM agg_sessions WHERE event_type = 'preview'
),
product_opens AS (
    SELECT * FROM agg_sessions WHERE event_type = 'opening'
),
cart_addings AS (
    SELECT * FROM agg_sessions WHERE event_type = 'adding'
),
preview_to_openings AS (
    SELECT pp.event_id AS preview_event_id,
           arg_min(po.event_id, po.event_ts) AS opening_event_id
    FROM product_previews pp
    JOIN product_opens po
      ON pp.device_id = po.device_id
     AND pp.product_id = po.product_id
     AND pp.event_ts <= po.event_ts
     AND COALESCE(pp.next_event_ts, pp.event_ts + INTERVAL 24 HOURS) > po.event_ts
    GROUP BY pp.event_id
),
preview_to_cart_addings AS (
    SELECT pp.event_id AS preview_event_id,
           arg_min(ca.event_id, ca.event_ts) AS adding_event_id
    FROM product_previews pp
    JOIN medicine_group_products mg ON pp.product_id = mg.initial_product_id
    JOIN cart_addings ca
      ON pp.device_id = ca.device_id
     AND mg.medicine_group_product_id = ca.product_id
     AND pp.event_ts <= ca.event_ts
     AND COALESCE(pp.next_event_ts, pp.event_ts + INTERVAL 24 HOURS) > ca.event_ts
    GROUP BY pp.event_id
),
cart_addings_to_orders AS (
    SELECT ca.event_id AS adding_event_id,
           arg_min(o.order_id, o.order_ts) AS order_id,
           arg_min(o.quantity, o.order_ts) AS order_quantity,
           arg_min(o.products_price, o.order_ts) AS order_products_price,
           arg_min(o.before_products_price, o.order_ts) AS order_before_products_price
    FROM cart_addings ca
    JOIN orders_info o
      ON ca.device_id = o.device_id
     AND ca.product_id = o.product_id
     AND ca.event_ts <= o.order_ts
     AND ca.event_ts + INTERVAL 24 HOURS > o.order_ts
    GROUP BY ca.event_id
),
flat AS (
    SELECT pp.event_dt, 'search' AS source, pp.platform,
           pp.source_screen AS placement, pp.utm_campaign, pp.product_id,
           pp.event_id AS preview_event_id,
           p2o.opening_event_id, p2a.adding_event_id,
           a2o.order_id, a2o.order_quantity,
           a2o.order_products_price, a2o.order_before_products_price
    FROM product_previews pp
    LEFT JOIN preview_to_openings p2o ON pp.event_id = p2o.preview_event_id
    LEFT JOIN preview_to_cart_addings p2a ON pp.event_id = p2a.preview_event_id
    LEFT JOIN cart_addings_to_orders a2o ON p2a.adding_event_id = a2o.adding_event_id
    WHERE pp.widget_type IN ('searchProduct', 'searchCarousel', '')
    UNION ALL
    SELECT pp.event_dt, 'recommendation' AS source, pp.platform,
           pp.widget_type AS placement, pp.utm_campaign, pp.product_id,
           pp.event_id AS preview_event_id,
           p2o.opening_event_id, p2a.adding_event_id,
           a2o.order_id, a2o.order_quantity,
           a2o.order_products_price, a2o.order_before_products_price
    FROM product_previews pp
    LEFT JOIN preview_to_openings p2o ON pp.event_id = p2o.preview_event_id
    LEFT JOIN preview_to_cart_addings p2a ON pp.event_id = p2a.preview_event_id
    LEFT JOIN cart_addings_to_orders a2o ON p2a.adding_event_id = a2o.adding_event_id
    WHERE pp.widget_type IN ('recommendations', 'previouslyBought')
)
SELECT * FROM flat
"""


_ORACLE = _chain(_RUN_DATE)


@query("engine_campaign_funnels", oracle=_ORACLE)
def engine_campaign_funnels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build examples/campaign_funnels through the engine (seed-free DAG:
    dims → orders_info → the funnel model, checks + singular test) at
    run_date 2024-01-30 and return the flat funnel table; the oracle
    recomputes the sessionize → dedup → attribute → flatten chain from
    the raw parquet in DuckDB."""
    db = _build(spark, sf_dir)
    return spark.table(f"{db}.campaign_funnels")


@query(
    "engine_campaign_funnels_rollup",
    oracle=f"""
WITH flat AS ({_ORACLE.replace(chr(10), chr(10) + '    ')})
SELECT source,
       platform,
       COUNT(*) AS n_previews,
       CAST(COUNT(opening_event_id) AS BIGINT) AS n_opened,
       CAST(COUNT(adding_event_id) AS BIGINT) AS n_added,
       CAST(COUNT(order_id) AS BIGINT) AS n_ordered,
       CAST(COALESCE(SUM(order_products_price), 0) AS DOUBLE) AS attributed_revenue
FROM flat
GROUP BY source, platform
""",
)
def engine_campaign_funnels_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel conversion rollup over the engine-built flat table — the
    dashboard aggregate the reference's model feeds (previews → openings
    → addings → orders with attributed revenue), verified per source ×
    platform."""
    from pyspark.sql import functions as F

    db = _build(spark, sf_dir)
    t = spark.table(f"{db}.campaign_funnels")
    return t.groupBy("source", "platform").agg(
        F.count(F.lit(1)).alias("n_previews"),
        F.count("opening_event_id").alias("n_opened"),
        F.count("adding_event_id").alias("n_added"),
        F.count("order_id").alias("n_ordered"),
        F.coalesce(F.sum("order_products_price"), F.lit(0.0))
        .cast("double")
        .alias("attributed_revenue"),
    )


def _build_incremental(spark: SparkSession, sf_dir: str) -> str:
    """Full build @ 2024-01-22, incremental @ 2024-01-30 — the rolling
    window advances and run 2 insert-overwrites only its own window's
    event_dt partitions."""
    from dbt_spark_models_spark.plans import Project, Runner

    def build(db: str) -> None:
        project = Project.load(_PROJECT_DIR)
        r1 = Runner(
            spark=spark,
            project=project,
            database=db,
            target_name="dev",
            vars={"sf_dir": sf_dir, "run_date": "2024-01-22"},
        )
        results = r1.seed() + r1.run()
        r2 = Runner(
            spark=spark,
            project=project,
            database=db,
            target_name="dev",
            vars={"sf_dir": sf_dir, "run_date": "2024-01-30"},
        )
        res2 = r2.run()
        require_success(results + res2 + r2.test(), "campaign_funnels incr build")
        act = {x.node: x.action for x in res2}
        if act.get("campaign_funnels") != "overwritten_partitions":
            raise RuntimeError(f"expected insert_overwrite on run 2, got {act}")

    db, _ = gate_db(
        spark, "campaign_incr_", sf_dir, probe="campaign_funnels", build=build
    )
    return db


@query(
    "engine_campaign_funnels_incremental",
    oracle=f"""
SELECT * FROM ({_chain("2024-01-22")})
WHERE event_dt < DATE '2024-01-16'
UNION ALL
SELECT * FROM ({_chain("2024-01-30")})
WHERE event_dt >= DATE '2024-01-16'
""",
)
def engine_campaign_funnels_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-window insert_overwrite contract, driver-graded: after a
    full build at 2024-01-22 and an incremental run at 2024-01-30, the
    table must equal run 1's chain for partitions BEFORE run 2's window
    (they were never rewritten — computed from run 1's data cutoff) plus
    run 2's chain inside its window [01-16, 01-29].  The oracle simulates
    both runs' windows independently — exactly the state a reference
    120-day rolling model accumulates across daily runs."""
    db = _build_incremental(spark, sf_dir)
    return spark.table(f"{db}.campaign_funnels")
