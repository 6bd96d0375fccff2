"""The optional-dependency lane: real-path tests for the env-gated
pair — psycopg2 (live PostgreSQL upsert, the reference's actual sink)
and the media codecs (Pillow/soundfile — those live in
test_multimodal.py, marked ``gated`` there). Each test skip-reports
loudly when its dependency (or live endpoint) is absent, so a host
without them shows skips while a fully-provisioned host runs the real
paths:

    python -m pytest -m gated tests/ -rs
"""

from __future__ import annotations

import os

import pytest


@pytest.mark.gated
def test_pg_live_upsert_roundtrip():
    """Live-PG real path for sinks/jdbc.jdbc_upsert: insert, then a
    second batch that updates one key and inserts another; counts come
    from the RETURNING (xmax = 0) flags and the final table state is
    read back through psycopg2 itself."""
    psycopg2 = pytest.importorskip("psycopg2")
    dsn = os.environ.get("SPARK_GRAFT_PG_DSN")
    if not dsn:
        pytest.skip("set SPARK_GRAFT_PG_DSN=postgresql://... for the live-PG lane")
    from usajobs_etl_service_spark.session import get_spark
    from usajobs_etl_service_spark.sinks.jdbc import jdbc_upsert

    spark = get_spark("gated-pg")
    conn = psycopg2.connect(dsn)
    conn.autocommit = True
    cur = conn.cursor()
    cur.execute("DROP TABLE IF EXISTS gated_upsert_t")
    cur.execute(
        "CREATE TABLE gated_upsert_t (k text PRIMARY KEY, v bigint, "
        "created_at timestamptz DEFAULT now(), updated_at timestamptz DEFAULT now())"
    )
    try:
        df1 = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v long")
        m1 = jdbc_upsert(df1, table="gated_upsert_t", key="k", dsn=dsn)
        assert m1 == {"inserted": 2, "updated": 0, "total": 2}
        df2 = spark.createDataFrame([("b", 20), ("c", 3)], "k string, v long")
        m2 = jdbc_upsert(df2, table="gated_upsert_t", key="k", dsn=dsn)
        assert m2 == {"inserted": 1, "updated": 1, "total": 2}
        cur.execute("SELECT k, v FROM gated_upsert_t ORDER BY k")
        assert cur.fetchall() == [("a", 1), ("b", 20), ("c", 3)]
    finally:
        cur.execute("DROP TABLE IF EXISTS gated_upsert_t")
        conn.close()
