"""The gate registry is declared once: ``QUERIES`` and ``oracle_sql()``
name the same gates, and every committed fixture is read by some gate or
oracle — deleting a gate cannot leave orphaned oracle SQL or fixtures
behind.  The driver tables are declared once too, and the oracles read
the fixtures of the checkout they run from.  Every keyword default of a
public operator is set by some call in the repo.  Spark-free (builds no
session, runs no query)."""

import ast
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


def _operator_keyword_defaults() -> dict[tuple[str, str], dict[str, int | None]]:
    """(module, function) -> {parameter: positional index, or None when
    keyword-only} for every defaulted parameter of a public function in a
    public ``operators/`` module."""
    out = {}
    for path in sorted((Path(vm.__file__).parent / "operators").glob("[!_]*.py")):
        for fn in ast.parse(path.read_text()).body:
            if not isinstance(fn, ast.FunctionDef) or fn.name.startswith("_"):
                continue
            a = fn.args
            pos = a.posonlyargs + a.args
            first = len(pos) - len(a.defaults)
            params = {arg.arg: i for i, arg in enumerate(pos) if i >= first}
            for arg, d in zip(a.kwonlyargs, a.kw_defaults):
                if d is not None:
                    params[arg.arg] = None
            if params:
                out[(path.stem, fn.name)] = params
    return out


def test_every_operator_keyword_default_has_a_caller():
    """A keyword default that no call in the repo (package, tests, tools,
    perfbench, entry points) passes by name or by position is a constant
    behind an option: make it a constant, or give it a caller.  Calls are
    matched on the function's name; ``*args``/``**kwargs`` count as
    setting everything."""
    defaults = _operator_keyword_defaults()
    passed = {key: set() for key in defaults}
    for path in REPO.rglob("*.py"):
        if any(part.startswith(".") for part in path.relative_to(REPO).parts):
            continue
        for call in ast.walk(ast.parse(path.read_text())):
            if not isinstance(call, ast.Call):
                continue
            f = call.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            n_pos = len(call.args)
            if any(isinstance(x, ast.Starred) for x in call.args):
                n_pos = float("inf")
            names = {k.arg for k in call.keywords}
            for (mod, fn), params in defaults.items():
                if fn == name:
                    passed[(mod, fn)].update(
                        p for p, i in params.items()
                        if p in names or None in names or (i is not None and i < n_pos)
                    )
    unset = [
        f"{mod}.{name}({p})"
        for (mod, name), params in sorted(defaults.items())
        for p in params
        if p not in passed[(mod, name)]
    ]
    assert not unset, f"{len(unset)} keyword defaults no call sets: {', '.join(unset)}"
