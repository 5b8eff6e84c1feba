"""Checkpoint manifest resume + Structured Streaming ingestion."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.operators.grid import gen_tiles
from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.sources.derived import images_meta
from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.streaming import manifest as M
from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.streaming.stream import stream_tiles

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def tmp(request):
    d = tempfile.mkdtemp()
    request.addfinalizer(lambda: shutil.rmtree(d, ignore_errors=True))
    return d


def test_run_resumable_skips_completed(spark, tmp):
    imgs = images_meta(spark, SF).filter(F.col("w") % 2 == 0)
    calls = []

    def stage(pending):
        calls.append(pending.count())
        return gen_tiles(pending, with_geo=False).select(
            "image_id", "tile_id", "tiy", "tix"
        )

    out1 = M.run_resumable(imgs, stage, "gen_tiles", tmp)
    n1 = out1.count()
    assert calls[-1] > 0 and n1 > 0

    # second run: nothing pending, no new rows
    out2 = M.run_resumable(imgs, stage, "gen_tiles", tmp)
    assert calls[-1] == 0
    assert out2.count() == n1

    # manifest has one 'done' row per image with correct per-image row counts
    m = spark.read.parquet(M.manifest_path(tmp))
    exp = {
        r["image_id"]: r["cnt"]
        for r in out1.groupBy("image_id").agg(F.count("*").alias("cnt")).collect()
    }
    got = {r["image_id"]: r["rows"] for r in m.filter("stage = 'gen_tiles'").collect()}
    assert got == exp


def test_manifest_reads_start_no_job(spark, tmp):
    """completed_units and resume_filter read the manifest with its declared
    schema: building either starts no Spark job (no schema inference)."""
    imgs = images_meta(spark, SF).limit(4)
    M.run_resumable(imgs, lambda df: df.select("image_id", "w"), "s", tmp)
    sc = spark.sparkContext
    try:
        for group, build in (
            ("manifest_completed", lambda: M.completed_units(spark, tmp, "s")),
            ("manifest_resume", lambda: M.resume_filter(imgs, spark, tmp, "s")),
        ):
            sc.setJobGroup(group, group)
            build()
            assert sc.statusTracker().getJobIdsForGroup(group) == [], group
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_cleared_manifest_plans_like_a_fresh_root(spark, tmp):
    """A manifest whose stage partitions were all cleared reads as 'nothing
    done', like a missing one: the resume join drops out of the optimized
    plan, so the stage sees the same plan on a fresh and on a cleared root."""
    imgs = images_meta(spark, SF).limit(4)

    def joins():
        plan = M.resume_filter(imgs, spark, tmp, "s")._jdf.queryExecution().optimizedPlan()
        return plan.toString().count("Join")

    assert joins() == 0
    M.run_resumable(imgs, lambda df: df.select("image_id", "w"), "s", tmp)
    assert joins() == 1
    M.clear_stage(spark, tmp, "s")
    assert joins() == 0
    assert M.completed_units(spark, tmp, "s").count() == 0


def test_resume_mid_grid_after_partial_run(spark, tmp):
    imgs = images_meta(spark, SF)
    half = imgs.filter(F.col("image_id") < "img_00000100")

    def stage(pending):
        return gen_tiles(pending, with_geo=False).select("image_id", "tile_id")

    M.run_resumable(half, stage, "s", tmp)
    # full input: only the other half is pending
    pending = M.resume_filter(imgs, spark, tmp, "s")
    assert pending.count() == imgs.count() - half.count()
    out = M.run_resumable(imgs, stage, "s", tmp)
    assert out.count() == gen_tiles(imgs, with_geo=False).count()


def test_stream_tiles_matches_batch(spark, tmp):
    imgs = images_meta(spark, SF).withColumns(
        {
            "bytes": F.lit(b""),
            "fmt": F.lit("raw"),
            "caption": F.lit("c"),
            "phash": F.lit(0).cast("long"),
            "crs": F.lit("SYNTH:METRIC"),
        }
    )
    src_dir, out_dir, cp_dir = f"{tmp}/src", f"{tmp}/out", f"{tmp}/cp"
    imgs.write.parquet(src_dir)
    q = stream_tiles(spark, src_dir, out_dir, cp_dir, available_now=True)
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir)
    exp = gen_tiles(imgs.drop("bytes"), with_geo=True).drop("fmt", "crs")
    assert got.count() == exp.count()
    assert (
        got.select("tile_id").exceptAll(exp.select("tile_id")).count() == 0
    )


def test_stream_tiles_gate_leaves_no_temp_dir(spark, tmp_path, monkeypatch):
    """The stream_tiles gate deletes its temp directory (source, sink
    and checkpoint) before returning, and its frame still reads the
    full batch grid once collected."""
    import __spark_entry__ as E
    from conftest import SF_SMALL

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    rows = E.q_stream_tiles(spark, SF_SMALL).collect()
    assert list(tmp_path.glob("stream_tiles_gate_*")) == []
    assert len(rows) == gen_tiles(images_meta(spark, SF_SMALL), with_geo=False).count()


def test_resume_records_zero_output_units(spark, tmp):
    """A unit whose stage output is empty still gets a manifest entry and
    is NOT re-run on resume (regression: empty units were pending forever)."""
    imgs = images_meta(spark, SF).filter(F.col("image_id") < "img_00000020")
    calls = []

    def stage(pending):
        calls.append(pending.count())
        # emit rows only for half the units; the rest complete with 0 rows
        return gen_tiles(pending, with_geo=False).select(
            "image_id", "tile_id"
        ).filter(F.substring("image_id", 12, 1).cast("int") % 2 == 0)

    M.run_resumable(imgs, stage, "s0", tmp)
    assert calls[-1] > 0
    M.run_resumable(imgs, stage, "s0", tmp)
    assert calls[-1] == 0  # zero-output units are done too
    m = spark.read.parquet(M.manifest_path(tmp)).filter("stage = 's0'")
    assert m.filter("rows = 0").count() > 0


def test_orphan_output_rows_are_invisible_and_reconverge(spark, tmp):
    """Crash between output append and manifest append: the orphan rows are
    filtered from reads, the unit stays pending, and the retry's copy is the
    single visible one."""
    imgs = images_meta(spark, SF).filter(F.col("image_id") < "img_00000010")

    def stage(pending):
        return gen_tiles(pending, with_geo=False).select("image_id", "tile_id")

    # simulate the crashed first attempt: output lands, manifest doesn't
    out_path = f"{tmp}/s1"
    stage(imgs).withColumn("_run_id", F.lit("deadbeef")).write.mode(
        "append"
    ).parquet(out_path)
    # clean retry
    result = M.run_resumable(imgs, stage, "s1", tmp)
    exp = stage(imgs).count()
    assert result.count() == exp  # orphans not double-counted
    raw = spark.read.parquet(out_path)
    assert raw.count() == 2 * exp  # both copies are physically there


def test_clear_stage_crash_ordering_never_loses_data(spark, tmp):
    """clear_stage drops manifest rows BEFORE the output dir.  A crash
    between the two leaves output-with-no-manifest: the units read as
    pending and re-run — never 'done' rows pointing at deleted data."""
    import shutil as _sh

    imgs = images_meta(spark, SF).filter(F.col("w") % 7 == 0).limit(6)

    def stage(pending):
        return gen_tiles(pending, with_geo=False).select(
            "image_id", "tile_id", "tiy", "tix"
        )

    n_full = M.run_resumable(imgs, stage, "s", tmp).count()
    assert n_full > 0

    # simulate the crash window: manifest partition deleted, output intact
    _sh.rmtree(f"{M.manifest_path(tmp)}/stage=s", ignore_errors=True)
    done = M.completed_units(spark, tmp, "s")
    assert done.count() == 0  # everything pending again

    # re-run: all units recompute, and the stale output rows stay invisible
    out = M.run_resumable(imgs, stage, "s", tmp)
    assert out.count() == n_full


def test_clear_stage_then_fresh_run(spark, tmp):
    """Full clear (manifest rows + output) then a fresh run reconverges."""
    imgs = images_meta(spark, SF).filter(F.col("w") % 7 == 0).limit(6)

    def stage(pending):
        return gen_tiles(pending, with_geo=False).select(
            "image_id", "tile_id", "tiy", "tix"
        )

    n1 = M.run_resumable(imgs, stage, "s", tmp).count()
    M.clear_stage(spark, tmp, "s")
    assert M.completed_units(spark, tmp, "s").count() == 0
    n2 = M.run_resumable(imgs, stage, "s", tmp).count()
    assert n2 == n1
