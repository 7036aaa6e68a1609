"""The SQL front door: spark.sql over registered temp views equals the
DataFrame-API queries. The running-totals stateful operator is checked
by the registered stream_stateful_replay (its oracle requires exactly
2x the batch aggregate, so state must survive the batch boundary) and
by tests/test_streaming.py::test_rocksdb_state_store_cents_accumulator."""

from __future__ import annotations

from flink_engagement_pipeline_spark.sources.tables import register_views


def test_sql_front_door_matches_dataframe(spark, sf_dir):
    """The same enrichment expressed through spark.sql over registered
    temp views must equal the DataFrame-API query (SURVEY §7 Phase 1
    item 5: both front doors tested)."""
    from flink_engagement_pipeline_spark.plans import REGISTRY

    register_views(spark, sf_dir)
    sql_df = spark.sql(
        """
        SELECT
            e.event_id, e.user_id, e.event_type, e.ts, e.value,
            CAST(e.value AS DOUBLE) / 1000.0 AS engagement_seconds,
            CASE WHEN c.c_acctbal > 0
                 THEN ROUND(CAST(e.value AS DOUBLE) / c.c_acctbal, 4)
                 ELSE NULL END AS engagement_pct,
            c.c_name AS user_name,
            c.c_mktsegment AS user_segment,
            c.c_nationkey AS user_nationkey,
            c.c_acctbal AS user_acctbal
        FROM events e
        LEFT JOIN customer c ON e.user_id = c.c_custkey
        """
    )
    df_api = REGISTRY["enrich_events"].spark(spark, sf_dir)
    assert sql_df.schema == df_api.schema
    assert sorted(map(tuple, sql_df.collect())) == sorted(
        map(tuple, df_api.collect())
    )


def test_sql_front_door_window_agg(spark, sf_dir):
    """HOP aggregation through pure SQL (window TVF-style via the
    window() function in SQL) equals the DataFrame implementation."""
    from flink_engagement_pipeline_spark.plans import REGISTRY

    register_views(spark, sf_dir)
    sql_df = spark.sql(
        """
        SELECT window.start AS window_start, window.end AS window_end,
               user_id,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS engagement_sum
        FROM events
        GROUP BY window(ts, '10 minutes', '5 seconds'), user_id
        """
    )
    df_api = REGISTRY["hop_engagement_sum"].spark(spark, sf_dir)
    assert sorted(map(tuple, sql_df.collect())) == sorted(
        map(tuple, df_api.collect())
    )
