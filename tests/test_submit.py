"""spark-submit driver script: job execution + manifest resume."""

import json
import os
import shutil
import subprocess
import sys
import tempfile
import zipfile
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))
import submit  # noqa: E402

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def tmp(request):
    d = tempfile.mkdtemp()
    request.addfinalizer(lambda: shutil.rmtree(d, ignore_errors=True))
    return d


def test_submit_tiles_job_and_resume(spark, tmp, capsys):
    rc = submit.main([
        "--images", f"synth:{SF}:20", "--output", tmp,
        "--job", "tiles", "--resume",
    ])
    assert rc == 0
    out1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out1["rows"] > 0

    # widen the input: resume processes only the new images, totals grow
    rc = submit.main([
        "--images", f"synth:{SF}:40", "--output", tmp,
        "--job", "tiles", "--resume",
    ])
    assert rc == 0
    out2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out2["rows"] > out1["rows"]

    m = spark.read.parquet(f"{tmp}/manifest")
    assert m.filter("stage = 'tiles'").count() > 20
    assert "partition_id" in m.columns


def test_fresh_run_then_resume_mix(spark, tmp, capsys):
    """Regression: a fresh (non-resume) run followed by --resume must not
    lose the fresh run's rows or skip units whose output was overwritten."""
    rc = submit.main([
        "--images", f"synth:{SF}:15", "--output", tmp, "--job", "tiles",
    ])
    assert rc == 0
    out1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    rc = submit.main([
        "--images", f"synth:{SF}:30", "--output", tmp, "--job", "tiles",
        "--resume",
    ])
    assert rc == 0
    out2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out2["rows"] > out1["rows"] > 0
    # fresh run again: old manifest rows for the stage are forgotten
    rc = submit.main([
        "--images", f"synth:{SF}:10", "--output", tmp, "--job", "tiles",
    ])
    out3 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert 0 < out3["rows"] < out1["rows"]


def test_submit_polygons_from_geotiff_dir(spark, tmp, capsys):
    """The reference's actual workflow end-to-end: a DIRECTORY of
    georeferenced GeoTIFF masks -> tiles -> polygons, via the
    rasters:<dir> images spec (io.checkdir walk + read_tif parity)."""
    import os

    import numpy as np

    from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.sources import (
        codec_tiff,
        images as IMG,
    )

    src = os.path.join(tmp, "rasters")
    os.makedirs(src)
    for pk in (3, 5, 8):
        w, h = 200 + pk * 37 % 1801, 200 + pk * 53 % 1801
        blob = codec_tiff.encode_tiff(
            IMG.render_mask(pk, w, h),
            geo=(pk * 210.0, 4000.0, 0.1, -0.1, IMG.CRS_TOKEN),
        )
        open(os.path.join(src, f"img_{pk:08d}.tif"), "wb").write(blob)

    out = os.path.join(tmp, "out")
    rc = submit.main([
        "--images", f"rasters:{src}", "--output", out, "--job", "polygons",
    ])
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # every image pk gets 1 + pk % 4 rectangles -> that many polygons
    assert res["rows"] == sum(1 + pk % 4 for pk in (3, 5, 8))


_SUBMIT_ARGS = ["--images", f"synth:{SF}:20", "--job", "tiles"]
_TILE_COLS = ["image_id", "tile_id", "tiy", "tix", "off_x", "off_y", "tw", "th"]


def _tiles(out_dir):
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(out_dir, "tiles"), columns=_TILE_COLS)
    return sorted(zip(*(t.column(c).to_pylist() for c in _TILE_COLS)))


@pytest.fixture(scope="module")
def repo_tiles_run(spark, tmp_path_factory):
    """The tiles job run in-process from the repo: the rows it prints and
    the tiles it writes."""
    from contextlib import redirect_stdout
    from io import StringIO

    out = str(tmp_path_factory.mktemp("repo_run") / "out")
    buf = StringIO()
    with redirect_stdout(buf):
        assert submit.main([*_SUBMIT_ARGS, "--output", out]) == 0
    return json.loads(buf.getvalue().strip().splitlines()[-1])["rows"], _tiles(out)


@pytest.mark.parametrize("master", ["local[2]", "local-cluster[2,1,1536]"])
def test_spark_submit_py_files_outside_repo(repo_tiles_run, tmp_path, master):
    """The documented deployment: the engine zipped and shipped with
    --py-files, submit.py run by spark-submit from a directory that does
    not hold the package.  Workers must import the engine from the zip."""
    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        pytest.skip("spark-submit is not on PATH")
    pkg = "vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark"
    with zipfile.ZipFile(tmp_path / "engine.zip", "w") as z:
        for path in sorted((REPO / pkg).rglob("*.py")):
            z.write(path, path.relative_to(REPO))
    shutil.copy(REPO / "submit.py", tmp_path)
    env = {
        k: v for k, v in os.environ.items()
        if k not in ("PYTHONPATH", "SPARK_GRAFT_MASTER")
    }
    out = str(tmp_path / "out")
    proc = subprocess.run(
        [spark_submit, "--master", master, "--py-files", "engine.zip",
         "submit.py", *_SUBMIT_ARGS, "--output", out],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    rows = json.loads(proc.stdout.strip().splitlines()[-1])["rows"]
    assert (rows, _tiles(out)) == repo_tiles_run
