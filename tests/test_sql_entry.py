"""SQL surface: plain spark.sql over the registered views must give
the same results as the DataFrame catalog."""

from pyspark.sql import functions as F

from spark_eventhubs_spark import queries as Q
from spark_eventhubs_spark.sql import register_catalog

from conftest import SF_DIR


def test_sql_over_hub_matches_dataframe_window_agg(spark):
    register_catalog(spark, SF_DIR)
    sql_rows = spark.sql(
        """SELECT window(enqueuedTime, '1 hour').start AS window_start,
                  COUNT(*) AS cnt
           FROM hub GROUP BY 1 ORDER BY 1"""
    ).collect()
    df_rows = (
        Q.queries()["hub_window_agg"](spark, SF_DIR)
        .orderBy("hour_bucket")
        .collect()
    )
    assert len(sql_rows) == len(df_rows) > 0
    assert [r["cnt"] for r in sql_rows] == [r["cnt"] for r in df_rows]


def test_sql_join_hub_to_dimension(spark):
    register_catalog(spark, SF_DIR)
    rows = spark.sql(
        """SELECT h.properties['event_type'] AS et, COUNT(*) AS n
           FROM hub h WHERE h.sequenceNumber < 100 GROUP BY 1"""
    ).collect()
    assert sum(r["n"] for r in rows) > 0


def test_sql_views_prune_and_push(spark):
    import io
    from contextlib import redirect_stdout

    register_catalog(spark, SF_DIR)
    df = spark.sql("SELECT l_quantity FROM lineitem WHERE l_quantity < 5")
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "PushedFilters" in plan and "l_quantity" in plan
    rs = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_extendedprice" not in rs


def test_build_session_confs(spark):
    # build_session on an existing session still applies the runtime
    # confs (builder confs are no-ops post-creation, runtime ones apply)
    from spark_eventhubs_spark.session import build_session

    s = build_session()
    assert s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    assert s.conf.get("spark.sql.session.timeZone") == "UTC"
    assert s.conf.get("spark.sql.streaming.checkpointFileManagerClass").endswith(
        ".FileSystemBasedCheckpointFileManager")
    # and it can read the nanos-timestamped events table
    assert s.read.parquet(f"{SF_DIR}/events.parquet").count() > 0


def test_build_session_sizes_from_host(monkeypatch):
    """Without SPARK_GRAFT_CPUS / SPARK_GRAFT_DRIVER_MEM the session
    takes the CPUs this process may use and a quarter of MemTotal."""
    import os
    import types

    from spark_eventhubs_spark import session as S

    seen = {}

    class Builder:
        def master(self, m):
            seen["master"] = m
            return self

        def appName(self, name):
            return self

        def config(self, key, value):
            seen[key] = value
            return self

        def getOrCreate(self):
            return "session"

    monkeypatch.setattr(S, "SparkSession", types.SimpleNamespace(builder=Builder()))
    monkeypatch.setattr(S, "configure_session", lambda s: s)
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert S.build_session() == "session"
    cpus = str(len(os.sched_getaffinity(0)))
    with open("/proc/meminfo") as fh:
        quarter_gib = int(fh.readline().split()[1]) // (4 << 20)
    assert seen["master"] == f"local[{cpus}]"
    assert seen["spark.sql.shuffle.partitions"] == cpus
    assert seen["spark.driver.memory"] == f"{max(1, quarter_gib)}g"

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    S.build_session(shuffle_partitions=5)
    assert seen["master"] == "local[3]"
    assert seen["spark.sql.shuffle.partitions"] == "5"
    assert seen["spark.driver.memory"] == "2g"


def test_driver_entry_contract(spark):
    """The driver's smoke check: entry(spark) runs on sf0.001 and
    yields rows with a stable schema; every queries() key has either
    an oracle_sql() entry or a documented rows-only contract."""
    import __spark_entry__ as em

    df = em.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert [f.name for f in df.schema.fields] == ["window_start", "cnt"]
    qs, osql = em.queries(), em.oracle_sql()
    assert set(osql) <= set(qs)
    # every catalog entry now carries an oracle — the sketch-based ones
    # (hub_approx_users, p2_approx_percentiles) via constant-TRUE
    # contract oracles rather than value oracles
    assert set(qs) == set(osql)


def test_catalog_doc_is_current():
    """docs/CATALOG.md is generated from the registry; its entry count
    must match, so the doc cannot silently go stale."""
    import os
    import re

    from spark_eventhubs_spark import queries as Q

    path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "docs", "CATALOG.md")
    text = open(path).read()
    assert int(re.search(r"^(\d+) entries", text, re.M).group(1)) == len(Q._QUERIES)
    assert text.count("| `") == len(Q._QUERIES)
