"""Every catalog entry against its DuckDB oracle, one case per entry.

Each case runs ``queries()[name]`` at the test sf dir, runs
``oracle_sql()[name]`` on the same parquet tables in DuckDB, and
compares row count, column names and the order-insensitive value hash
with ``scripts/check_oracle.py``'s ``compare``. The case id is the
entry name, so a red case names the entry that drifted.

The entries run on their own ``spark.newSession()``: the SparkContext
is shared, but the runtime confs and temp views an entry sets cannot
leak into later test modules (the plan-fingerprint tests among them).
"""

import importlib.util
import pathlib

import pytest

from spark_eventhubs_spark.plans.hubview import clear_cached_plans, configure_session
from spark_eventhubs_spark.queries import oracle_sql, queries

_spec = importlib.util.spec_from_file_location(
    "check_oracle",
    pathlib.Path(__file__).resolve().parent.parent / "scripts" / "check_oracle.py",
)
check_oracle = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(check_oracle)


@pytest.fixture(scope="module")
def catalog_spark(spark):
    s = configure_session(spark.newSession())
    yield s
    clear_cached_plans(s)


@pytest.mark.parametrize("name", list(queries()))
def test_entry_matches_oracle(name, catalog_spark, sf_dir, duck):
    got = queries()[name](catalog_spark, sf_dir).toPandas()
    want = duck.sql(oracle_sql()[name]).df()
    problems = check_oracle.compare(got, want)
    assert not problems, f"{name}: " + "\n".join(problems)
