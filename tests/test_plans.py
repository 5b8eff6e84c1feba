"""Physical-plan shape tests — the scale properties SURVEY.md §4 promises,
machine-checked: predicate pushdown to the scan, column pruning, single
whole-stage-codegen spans for metadata operators, the cell-keyed shuffle
join, the kNN join's one job and lazy plan, no JVM-side explode in the pixel
path (Arrow byte amplification), the exactly-once spatial join needing
no distinct, and the driver->JVM round trips a join gate's plan costs."""

import threading

import pytest
from pyspark.sql import functions as F

from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.functions.cellindex import WORLD_GRID
from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.operators import grid, joins, raster
from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.sources import derived
from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.sources import images as IMG

SF = "/root/testdata/sf0.001"


def plan(df, mode: str = "formatted") -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def test_gen_tiles_single_codegen_no_shuffle(spark):
    """O1/O2/O8 enumeration: one WholeStageCodegen span, zero exchanges —
    tile metadata never shuffles."""
    p = plan(grid.gen_tiles(derived.images_meta(spark, SF)))
    assert "Exchange" not in p
    # every operator in the same codegen span (id 1 only)
    assert "codegen id : 2" not in p and "codegen id : 1" in p


def test_image_filter_pushed_below_explode(spark):
    """An image-level filter lands next to the scan, under both Generates."""
    df = grid.gen_tiles(
        derived.images_meta(spark, SF).filter(F.col("w") > 1000)
    )
    p = plan(df)
    # filter evaluates on the scan column, before Generate in the plan walk
    assert p.index("Condition : ") < p.index("(6) Generate")
    assert "PushedFilters: [IsNotNull(p_partkey)]" in p


def test_column_pruning_reaches_scan(spark):
    """Projecting two metadata columns reads only the key column from
    parquet (ReadSchema pruned)."""
    p = plan(derived.images_meta(spark, SF).select("image_id", "w"))
    assert "ReadSchema: struct<p_partkey:bigint>" in p


def test_slice_tiles_no_jvm_explode(spark):
    """The pixel path must NOT enumerate tiles JVM-side: an explode there
    copies each image's bytes into the Arrow stream once per tile."""
    imgs = IMG.images_table(spark, SF, limit=5)
    p = plan(raster.slice_tiles(imgs))
    assert "Generate" not in p
    assert "MapInPandas" in p


def test_grouped_stages_infer_eval_type_from_hints(spark):
    """stitch_tiles and tiles_to_polygons type their grouped functions'
    (key, pdf) parameters, so building either plan makes pyspark raise no
    "Cannot infer the eval type" warning."""
    import warnings

    tiles = raster.slice_tiles(IMG.images_table(spark, SF, limit=5))
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        raster.stitch_tiles(tiles)
        raster.tiles_to_polygons(tiles)
    assert not [w for w in caught if "Cannot infer the eval type" in str(w.message)]


def test_pip_join_scale_plan_shuffles_on_cell(spark):
    """With auto-broadcast off (this fixture is tiny), the PIP prefilter is
    a shuffle join hash-partitioned on the cell key: the scale plan."""
    pts = derived.points_meta(spark, SF)
    polys = derived.env_from_meta(derived.footprint_rings(spark, SF))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        shuffle = joins.pip_join(pts, polys, WORLD_GRID)
        assert "hashpartitioning(cell_id" in plan(shuffle)
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_bbox_join_exactly_once_no_distinct(spark):
    """The intersection-cell dedup rule replaces a distinct: the plan must
    not contain a dedup aggregate over the pair keys."""
    tiles = grid.gen_tiles(derived.images_meta(spark, SF)).select(
        "tile_id",
        F.col("tminx").alias("minx"), F.col("tminy").alias("miny"),
        F.col("tmaxx").alias("maxx"), F.col("tmaxy").alias("maxy"),
    )
    fps = derived.footprints_with_env(spark, SF).select(
        "fp_id", "minx", "miny", "maxx", "maxy"
    )
    p = plan(joins.bbox_range_join(tiles, fps, WORLD_GRID), mode="simple")
    assert "Deduplicate" not in p and "Distinct" not in p


def test_knn_join_one_job_lazy_plan(spark):
    """Calling knn_join runs one job (the center count per cell) and returns
    a lazy plan: no cached or checkpointed relation, two cell equi-joins."""
    import re

    pts = derived.points_meta(spark, SF)
    centers = derived.footprints_meta(spark, SF).select("fp_id", "cx", "cy")
    sc = spark.sparkContext
    sc.setJobGroup("knn_join_call", "knn_join call")
    try:
        out = joins.knn_join(pts, centers, WORLD_GRID, k=3)
        assert len(sc.statusTracker().getJobIdsForGroup("knn_join_call")) == 1
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    p = plan(out, mode="extended")
    for cached in ("InMemoryRelation", "InMemoryTableScan", "LogicalRDD", "ExistingRDD"):
        assert cached not in p
    optimized = out._jdf.queryExecution().optimizedPlan().toString()
    assert len(re.findall(r"Join Inner, .*\(cell_id#\d+L = cell_id#\d+L\)", optimized)) == 2


@pytest.mark.parametrize("gate", ["pip_join", "point_tile_assign", "bbox_join", "knn_join"])
def test_join_gate_plan_build_round_trips(spark, gate, monkeypatch):
    """Building a join gate's plan takes at most 400 py4j round trips (one
    blocking driver->JVM call each): its expressions reach the JVM as SQL
    text, one parse per DataFrame step, not one call per Column node.
    Node-by-node Column building took 2,300-3,600 on this input."""
    import __spark_entry__ as E

    client = spark.sparkContext._gateway._gateway_client
    conn = client._get_connection()
    client._give_back_connection(conn)
    send = type(conn).send_command
    builder = threading.get_ident()
    calls = []

    def counting(self, command, *args, **kwargs):
        # py4j frees JVM references of collected proxies from its own
        # thread; only the building thread's calls are the plan's cost
        if threading.get_ident() == builder:
            calls.append(command)
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(type(conn), "send_command", counting)
    getattr(E, f"q_{gate}")(spark, SF)
    monkeypatch.undo()
    assert 0 < len(calls) <= 400, len(calls)


def test_pyramid_tiles_single_codegen_no_shuffle(spark):
    """O7 per-level re-grid: the pyramid explode composed with the tile
    explode still plans as pure column work — zero exchanges."""
    from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.operators import pyramid as P

    lv = P.pyramid_meta(derived.images_meta(spark, SF), levels=3).select(
        "image_id", "level", F.col("lw").alias("w"), F.col("lh").alias("h")
    )
    p = plan(grid.gen_tiles(lv, with_geo=False))
    assert "Exchange" not in p


def test_geotiff_extents_single_pass_one_exchange(spark):
    """S3 tag round-trip gate: one parquet scan, exactly the one pinned
    repartition (CPU spread for the Python encode stage), no joins or
    aggregates — the GeoTIFF write+read never shuffles data it doesn't
    have to."""
    import re

    import __spark_entry__ as E

    p = plan(E.q_geotiff_extents(spark, SF))
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1, p
    assert "Join" not in p and "Aggregate" not in p


def test_load_raster_dir_scan_to_arrow_only(spark, tmp_path):
    """Raster-directory ingest: binaryFile scan straight into ONE Arrow
    stage — no exchange, no driver-side listing loop."""
    import numpy as np

    from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.sources import (
        codec_tiff,
    )
    from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.sources.catalog import (
        load_raster_dir,
    )

    (tmp_path / "a.tif").write_bytes(
        codec_tiff.encode_tiff(np.zeros((8, 8), np.uint8))
    )
    import re

    p = plan(load_raster_dir(spark, str(tmp_path)))
    assert "Exchange" not in p
    assert len(re.findall(r"\(\d+\) MapInPandas", p)) == 1, p
    assert "Scan binaryFile" in p


def test_read_windows_never_broadcasts_blobs(spark):
    """Chip extraction: the image-BYTES side must never be broadcast
    (Catalyst sizes a mapInPandas output from its tiny parquet input and
    would happily ship every scene to every executor).  Pinned shape:
    one SortMergeJoin, zero BroadcastExchange, and the blobs cross
    exactly one exchange — the pre-join spread at the shuffle-partition
    count, which the SMJ reuses (ENSURE_REQUIREMENTS adds none on that
    side)."""
    import re

    import __spark_entry__ as E

    p = plan(E.q_window_chips(spark, SF))
    assert "BroadcastExchange" not in p, p
    assert len(re.findall(r"\(\d+\) SortMergeJoin", p)) == 1, p
    # 3 shuffles total: images_table's pre-render meta spread, the one
    # blob spread the SMJ reuses, and the window-list aggregation
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 3, p


def test_reproject_is_pure_map_no_exchange(spark):
    """Reprojection must stream off the scan: extents_to_wgs84 and
    points_to_wgs84 add NO Exchange — at 100 TB the CRS normalization
    costs one Arrow pass, never a shuffle."""
    import pandas as pd

    from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.operators import reproject as RP

    df = spark.createDataFrame(pd.DataFrame({
        "image_id": ["a"], "minx": [400000.0], "miny": [5000000.0],
        "maxx": [410000.0], "maxy": [5010000.0], "crs": ["EPSG:32610"],
        "x": [405000.0], "y": [5005000.0],
    }))
    assert "Exchange" not in plan(RP.extents_to_wgs84(df))
    assert "Exchange" not in plan(RP.points_to_wgs84(df))
