"""The three workloads: what one timed pass calls, and how it is checked.

Every pass is the engine ``call`` (plan building; eager for ``knn_join``)
then the ``action``, each in its own span.  The action is one
aggregate that counts the result and hashes the checked columns, so the
output is verified in every pass without a second job.
"""

from __future__ import annotations

import random
import time
from contextlib import contextmanager

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import __spark_entry__ as E
import vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark as vm
from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.operators import raster
from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.sources import codec
from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.sources import images as IMG
from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.streaming import manifest as MF

from inputs import CHECKS, check, checked_agg, dtypes, first_differing_column

CFG = vm.DEFAULT_CONFIG
STAGE = "polygons"
SAMPLE_EVERY = 1500  # tile_batch: about one tile in 1500 is decoded and checked


class Tracer:
    """In-memory spans.  With ``capture`` set, each span takes the query
    executions that finished inside it and not inside a child span."""

    def __init__(self, capture=None):
        self.capture = capture
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "attrs": attrs,
            "executions": [],
        }
        self.spans.append(rec)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            if self.capture is not None:
                rec["executions"] = self.capture.drain()
            self._stack.pop()

    def subtree(self, root: dict) -> list[dict]:
        ids, out = {root["id"]}, [root]
        for s in self.spans[root["id"] + 1 :]:
            if s["parent"] in ids:
                ids.add(s["id"])
                out.append(s)
        return out


def span_s(rec: dict) -> float:
    return rec["end"] - rec["start"]


@contextmanager
def count_calls(cls, name: str):
    """Count calls of ``cls.name`` while inside the block (knn rounds:
    each round persists its top-k once)."""
    orig = getattr(cls, name)
    box = [0]

    def wrapper(self, *a, **k):
        box[0] += 1
        return orig(self, *a, **k)

    setattr(cls, name, wrapper)
    try:
        yield box
    finally:
        setattr(cls, name, orig)


def verify(expected: dict, row, df: DataFrame, cols: list[str]) -> str | None:
    """The pass's check; on a value mismatch one more (untimed) job names
    the first differing column."""
    err = check(expected, int(row["n"]), row["h"], dtypes(df, cols))
    if err and err.startswith("content hash"):
        err += first_differing_column(expected, df, cols)
    return err


class Result:
    """One job or pass: rows checked, wall seconds, first error if any."""

    def __init__(self, kind: str):
        self.kind = kind
        self.rows = 0
        self.wall_s = 0.0
        self.error: str | None = None
        self.extra: dict = {}


def _read_images(spark, d: str) -> DataFrame:
    return spark.read.parquet(f"{d}/images.parquet")


class TileBatch:
    name = "tile_batch"
    cols = CHECKS["gen_tiles"]

    def __init__(self, inputs, seed: int):
        self.inputs = inputs
        self.seed = seed

    def kinds(self, rng: random.Random) -> list[str]:
        return ["slice_tiles"]

    warm_kinds = ["slice_tiles"]

    def run(self, spark, d: str, kind: str, tr: Tracer, check_out: bool = True) -> Result:
        res = Result(kind)
        t0 = time.perf_counter()
        with tr.span("pass", workload=self.name):
            images = _read_images(spark, d)
            with tr.span("operators.raster.slice_tiles"):
                tiles = raster.slice_tiles(images, CFG)
            pick = F.pmod(F.xxhash64("tile_id", F.lit(self.seed)), SAMPLE_EVERY) == 0
            sample = F.collect_list(
                F.when(pick, F.struct("image_id", "w", "h", "off_x", "off_y",
                                      "tw", "th", "bytes", "fmt"))
            ).alias("sample")
            with tr.span("action"):
                row = checked_agg(tiles, self.cols, sample).collect()[0]
        res.wall_s = time.perf_counter() - t0
        res.rows = int(row["n"])
        if check_out:
            res.error = verify(self.inputs.expected["gen_tiles"], row, tiles, self.cols)
            res.error = res.error or self._check_payloads(row["sample"])
        return res

    @staticmethod
    def _check_payloads(sample) -> str | None:
        """Decode sampled tiles and compare them with the rendered mask."""
        if not sample:
            return "no tile payloads sampled"
        for t in sample:
            pk = int(t["image_id"][4:])
            want = IMG.render_mask(pk, t["w"], t["h"])[
                t["off_y"] : t["off_y"] + t["th"], t["off_x"] : t["off_x"] + t["tw"]
            ]
            got = codec.decode(bytes(t["bytes"]), t["fmt"], t["tw"], t["th"])
            if got.dtype != want.dtype or not np.array_equal(got, want):
                return (
                    f"tile payload of {t['image_id']} at ({t['off_x']}, "
                    f"{t['off_y']}): {got.dtype}{got.shape} differs from "
                    f"render_mask {want.dtype}{want.shape}"
                )
        return None


class JoinQueries:
    name = "join_queries"
    queries = ("pip_join", "point_tile_assign", "bbox_join", "knn_join")

    def __init__(self, inputs, seed: int):
        self.inputs = inputs

    def kinds(self, rng: random.Random) -> list[str]:
        """One round: every query once, in a seeded order."""
        order = list(self.queries)
        rng.shuffle(order)
        return order

    warm_kinds = ["point_tile_assign"]

    def run(self, spark, d: str, kind: str, tr: Tracer, check_out: bool = True) -> Result:
        res = Result(kind)
        cols = CHECKS[kind]
        t0 = time.perf_counter()
        # the gate itself, so the timed call keeps the gate's arguments
        query = getattr(E, f"q_{kind}")
        with tr.span("pass", workload=self.name, query=kind):
            with tr.span(f"operators.joins.{kind}") as call:
                if kind == "knn_join" and tr.capture is not None:
                    # the concrete DataFrame class (pyspark.sql.DataFrame
                    # is an abstract parent whose persist is overridden)
                    with count_calls(type(spark.range(0)), "persist") as rounds:
                        out = query(spark, d)
                    call["attrs"]["rounds"] = rounds[0]
                else:
                    out = query(spark, d)
            with tr.span("action"):
                row = checked_agg(out, cols).collect()[0]
        res.wall_s = time.perf_counter() - t0
        res.rows = int(row["n"])
        if check_out:
            res.error = verify(self.inputs.expected[kind], row, out, cols)
        return res


class VectorizeWrite:
    name = "vectorize_write"
    cols = CHECKS["pipeline_polygons"]

    def __init__(self, inputs, seed: int):
        self.inputs = inputs
        self.out_root = f"{inputs.run_dir}/out"

    def kinds(self, rng: random.Random) -> list[str]:
        return ["polygons"]

    warm_kinds = ["polygons"]

    @staticmethod
    def _stage(df: DataFrame) -> DataFrame:
        # submit.py --job polygons
        return raster.tiles_to_polygons(raster.slice_tiles(df, CFG), CFG, separation="cc")

    def run(self, spark, d: str, kind: str, tr: Tracer, check_out: bool = True) -> Result:
        res = Result(kind)
        root = f"{self.out_root}/{'main' if check_out else 'warm'}"
        t0 = time.perf_counter()
        with tr.span("pass", workload=self.name):
            images = _read_images(spark, d)
            with tr.span("streaming.manifest.clear_stage"):
                MF.clear_stage(spark, root, STAGE)
            with tr.span("streaming.manifest.run_resumable"):
                visible = MF.run_resumable(images, self._stage, STAGE, root)
            # the pipeline_polygons oracle's columns (CHECKS); renaming one
            # in the oracle breaks building the expected values, not silently
            checked = visible.select(
                "image_id", "poly_id", "value", "area_m2", "mbr_area_m2",
                F.array_min(F.transform("ring", lambda v: v[0])).alias("minx"),
                F.array_max(F.transform("ring", lambda v: v[0])).alias("maxx"),
                F.array_min(F.transform("ring", lambda v: v[1])).alias("miny"),
                F.array_max(F.transform("ring", lambda v: v[1])).alias("maxy"),
            )
            with tr.span("streaming.manifest.visible_count"):
                row = checked_agg(checked, self.cols).collect()[0]
        res.wall_s = time.perf_counter() - t0
        res.rows = int(row["n"])
        res.extra["root"] = root
        if check_out:
            res.error = verify(self.inputs.expected["pipeline_polygons"], row, checked, self.cols)
        return res


WORKLOADS = {w.name: w for w in (TileBatch, JoinQueries, VectorizeWrite)}
