"""Benchmark inputs and their expected results.

The engine reads parquet tables only.  The key tables (``part``,
``customer``, ``events``) and the rendered mask corpus are made once per
checkout and cached; each run then rewrites them in a seeded row order and
a seeded file split, which changes no result.  Expected results come once,
untimed, from the repository's DuckDB oracles (``oracle_sql()`` in
``__spark_entry__``): a row count, an order-independent content hash
(Spark's ``xxhash64`` summed over the rows) and the column dtypes.
"""

from __future__ import annotations

import json
import os
import random
import shutil

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

KEYS = {"part": "p_partkey", "customer": "c_custkey", "events": "event_id"}

# Sizes.  tile_batch: the first 800 images of the sf0.1 catalog (30,435 tiles).
# join_queries: one tenth of the sf0.1 geometry tables.  vectorize_write:
# the first 16 of the 401 images the pipeline_polygons oracle covers.
SPECS = {
    "tile_batch": {"part": 800},
    "join_queries": {"part": 2000, "customer": 1500, "events": 10000},
    "vectorize_write": {"part": 16},
}
# Tiny inputs for the warm-up pass that ends each set-up.
WARM_SPECS = {
    "tile_batch": {"part": 8},
    "join_queries": {"part": 40, "customer": 30, "events": 200},
    "vectorize_write": {"part": 1},
}
# Oracle name -> checked output columns, in the engine's output order.
CHECKS = {
    "gen_tiles": ["image_id", "tiy", "tix", "tile_id", "off_x", "off_y", "tw", "th"],
    "pip_join": ["pt_id", "fp_id"],
    "point_tile_assign": ["pt_id", "tile_id"],
    "bbox_join": ["tile_id", "fp_id"],
    "knn_join": ["pt_id", "fp_id", "rank"],
    "pipeline_polygons": [
        "image_id", "poly_id", "value", "area_m2", "mbr_area_m2",
        "minx", "maxx", "miny", "maxy",
    ],
}
ORACLES = {
    "tile_batch": ["gen_tiles"],
    "join_queries": ["pip_join", "point_tile_assign", "bbox_join", "knn_join"],
    "vectorize_write": ["pipeline_polygons"],
}
PIXELS = {"tile_batch", "vectorize_write"}
N_FILES = 4
CACHE_VERSION = 5

# Dtypes are compared by kind.  Integer widths may differ: DuckDB's
# generate_series types the gen_tiles oracle's tiy/tix as BIGINT where the
# engine emits INT.  An integer read back as a float (an uncast SUM typed
# HUGEINT) is a different kind and fails the check.
_KIND = {"tinyint": "bigint", "smallint": "bigint", "int": "bigint", "float": "double"}


def kind(dtype: str) -> str:
    return _KIND.get(dtype, dtype)


def _hash_sum(*cols):
    return F.sum(F.xxhash64(*cols).cast("decimal(38,0)"))


def checked_agg(df: DataFrame, cols: list[str], *extra) -> DataFrame:
    """Row count plus an order-independent hash of ``cols`` in one action;
    values are hashed at their kind's width, so INT and BIGINT agree."""
    types = dict(dtypes(df, cols))
    hashed = [F.col(c).cast(kind(types[c])) for c in cols]
    return df.agg(
        F.count(F.lit(1)).alias("n"), _hash_sum(*hashed).alias("h"), *extra
    )


def column_hashes(df: DataFrame, cols: list[str]) -> list[str]:
    """One order-independent hash per column, to name the first column
    whose values differ."""
    types = dict(dtypes(df, cols))
    row = df.agg(*[_hash_sum(F.col(c).cast(kind(types[c]))) for c in cols]).collect()[0]
    return [str(v if v is not None else 0) for v in row]


def first_differing_column(expected: dict, df: DataFrame, cols: list[str]) -> str:
    got = column_hashes(df, cols)
    for (col, dtype), g, want in zip(dtypes(df, cols), got, expected["column_hashes"]):
        if g != want:
            return f"; first differing column: {col} ({dtype})"
    return "; every column matches alone (rows are paired differently)"


def dtypes(df: DataFrame, cols: list[str]) -> list[list[str]]:
    by_name = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    return [[c, by_name.get(c, "missing")] for c in cols]


def check(expected: dict, n: int, h, got_dtypes: list[list[str]]) -> str | None:
    """None when the output matches, else what differs first."""
    for (col, got), (_, want) in zip(got_dtypes, expected["dtypes"]):
        if kind(got) != kind(want):
            return f"column {col}: dtype {got}, oracle {want}"
    if n != expected["rows"]:
        return f"{n} rows, oracle {expected['rows']}"
    if str(h if h is not None else 0) != expected["hash"]:
        return f"content hash {h}, oracle {expected['hash']}"
    return None


def _write_keys(path: str, table: str, n: int) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        pa.table({KEYS[table]: np.arange(n, dtype=np.int64)}),
        f"{path}/{table}.parquet",
    )


def _write_shuffled(table: pa.Table, out_dir: str, rng: random.Random) -> None:
    """``table`` in a seeded row order, cut into N_FILES files, so the seed
    decides which rows share a file but not how many scan tasks there are."""
    os.makedirs(out_dir, exist_ok=True)
    order = list(range(table.num_rows))
    rng.shuffle(order)
    table = table.take(pa.array(order, pa.int64()))
    bounds = np.linspace(0, table.num_rows, N_FILES + 1).astype(int)
    for i in range(N_FILES):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, f"{out_dir}/part-{i:03d}.parquet")


class Inputs:
    """Cached corpus + expected values for one workload, and the per-seed
    copies the engine reads."""

    def __init__(self, work_dir: str, workload: str):
        self.workload = workload
        self.cache = f"{work_dir}/cache/v{CACHE_VERSION}/{workload}"
        self.run_dir = f"{work_dir}/run/{workload}-{os.getpid()}"
        self.expected: dict = {}

    # -- cached, seed-independent ------------------------------------------
    def prepare(self, get_session) -> None:
        """Build the cache if it is missing.  ``get_session()`` is only
        called when Spark is needed (rendering, expected hashes)."""
        done = f"{self.cache}/expected.json"
        if os.path.exists(done):
            with open(done) as f:
                self.expected = json.load(f)
            return
        shutil.rmtree(self.cache, ignore_errors=True)
        spark = get_session()
        for name, spec in (("base", SPECS), ("warm", WARM_SPECS)):
            keys = f"{self.cache}/{name}"
            for table, n in spec[self.workload].items():
                _write_keys(keys, table, n)
            if self.workload in PIXELS:
                from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.sources import images as IMG

                pdf = IMG.images_table(spark, keys, fmt="png", kind="mask").toPandas()
                pdf = pdf.sort_values("image_id", ignore_index=True)
                pq.write_table(
                    pa.Table.from_pandas(pdf, preserve_index=False),
                    f"{keys}/images.parquet",
                )
        self.expected = self._oracle(spark, f"{self.cache}/base")
        with open(done + ".tmp", "w") as f:
            json.dump(self.expected, f)
        os.replace(done + ".tmp", done)

    def _oracle(self, spark, keys: str) -> dict:
        import __spark_entry__ as E

        sql = E.oracle_sql()
        con = duckdb.connect()
        try:
            for table in SPECS[self.workload]:
                con.execute(
                    f"CREATE VIEW {table} AS SELECT * FROM "
                    f"read_parquet('{keys}/{table}.parquet')"
                )
            out = {}
            for name in ORACLES[self.workload]:
                cols = CHECKS[name]
                pdf = con.execute(sql[name]).df()[cols]
                sdf = spark.createDataFrame(pdf)
                row = checked_agg(sdf, cols).collect()[0]
                out[name] = {
                    "rows": int(row["n"]),
                    "hash": str(row["h"] if row["h"] is not None else 0),
                    "dtypes": dtypes(sdf, cols),
                    "column_hashes": column_hashes(sdf, cols),
                }
            return out
        finally:
            con.close()

    def sample_images(self) -> "pa.Table":
        """The cached corpus (pixel workloads), for kernel replays."""
        return pq.read_table(f"{self.cache}/base/images.parquet")

    # -- per seed ------------------------------------------------------------
    def materialize(self, seed: int) -> tuple[str, str]:
        """Write this seed's copy of the base and warm-up inputs; returns
        (base dir, warm-up dir).  Each table becomes a directory of parquet
        files, read by the engine as ``<dir>/<table>.parquet``."""
        shutil.rmtree(self.run_dir, ignore_errors=True)
        rng = random.Random(seed)
        dirs = []
        for name, spec in (("base", SPECS), ("warm", WARM_SPECS)):
            src, dst = f"{self.cache}/{name}", f"{self.run_dir}/{name}"
            tables = list(spec[self.workload])
            if self.workload in PIXELS:
                tables.append("images")
            for table in tables:
                _write_shuffled(
                    pq.read_table(f"{src}/{table}.parquet"),
                    f"{dst}/{table}.parquet",
                    rng,
                )
            dirs.append(dst)
        return dirs[0], dirs[1]

    def cleanup(self) -> None:
        shutil.rmtree(self.run_dir, ignore_errors=True)
