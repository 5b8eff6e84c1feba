"""The gate registry is declared once: ``QUERIES`` and ``oracle_sql()``
name the same gates, and every committed fixture is read by some gate or
oracle — deleting a gate cannot leave orphaned oracle SQL or fixtures
behind.  Spark-free (builds no session, runs no query)."""

import inspect
from pathlib import Path

import __spark_entry__ as E

FIXTURES = Path(__file__).resolve().parents[1] / "fixtures"


def test_queries_and_oracles_share_keys():
    assert sorted(E.QUERIES) == sorted(E.oracle_sql())


def test_every_fixture_is_referenced():
    texts = list(E.oracle_sql().values()) + [
        inspect.getsource(fn) for fn in E.QUERIES.values()
    ]
    fixtures = sorted(p.name for p in FIXTURES.glob("*.parquet"))
    assert fixtures
    orphans = [f for f in fixtures if not any(f in t for t in texts)]
    assert orphans == []
