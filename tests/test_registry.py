"""The gate registry is declared once: ``QUERIES`` and ``oracle_sql()``
name the same gates, and every committed fixture is read by some gate or
oracle — deleting a gate cannot leave orphaned oracle SQL or fixtures
behind.  The driver tables are declared once too, and the oracles read
the fixtures of the checkout they run from.  Spark-free (builds no
session, runs no query)."""

import importlib.util
import inspect
import re
from pathlib import Path

import duckdb
import pytest

import __spark_entry__ as E
import vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark as vm

REPO = Path(__file__).resolve().parents[1]
FIXTURES = REPO / "fixtures"


def _load(name: str, path: Path):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _parquet_reads(sqls) -> list[Path]:
    return [
        Path(p) for sql in sqls for p in re.findall(r"read_parquet\('([^']+)'\)", sql)
    ]


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


def test_driver_tables_are_the_tables_oracles_read():
    named = set().union(*(duckdb.get_table_names(sql) for sql in E.oracle_sql().values()))
    assert sorted(E.DRIVER_TABLES) == sorted(named)


def test_oracles_read_fixtures_of_their_own_checkout(tmp_path):
    """A copy of the module loaded from another directory reads that
    directory's fixtures; nothing names this checkout's path."""
    src = Path(E.__file__).read_text()
    assert str(REPO) not in src
    copy = tmp_path / "__spark_entry__.py"
    copy.write_text(src)
    reads = _parquet_reads(_load("entry_copy", copy).oracle_sql().values())
    assert reads
    assert all(p.parent == tmp_path / "fixtures" for p in reads)

    own_dir = Path(E.__file__).parent / "fixtures"
    own = _parquet_reads(E.oracle_sql().values())
    assert all(p.parent == own_dir and p.is_file() for p in own)


def test_compare_oracle_rejects_unknown_gate_before_spark(monkeypatch, capsys):
    def no_spark(*args, **kwargs):
        raise AssertionError("Spark started")

    monkeypatch.setattr(vm, "get_spark", no_spark)
    tool = _load("compare_oracle", REPO / "tools" / "compare_oracle.py")
    monkeypatch.setattr("sys.argv", ["compare_oracle.py", str(REPO), "gen_tiles", "no_such_gate"])
    with pytest.raises(SystemExit) as exit_:
        tool.main()
    assert exit_.value.code != 0
    assert "no_such_gate: FAIL" in capsys.readouterr().out
