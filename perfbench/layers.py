"""Per-layer metrics of a traced run.

Each figure is the median over traced passes (``join_queries``: over
traced jobs, per query for the ``operators.joins.<q>`` family) of what the
pass's spans and their query executions recorded.  A layer that the
workload never reaches reads 0 and is listed in ``unmeasured`` with the
reason.
"""

from __future__ import annotations

import statistics

import pyarrow.parquet as pq

from hoststat import du
from plan_metrics import summarize
from replay import replay
from workloads import span_s

QUERIES = ("pip_join", "point_tile_assign", "bbox_join", "knn_join")

PER_LAYER: dict[str, str] = {
    "session.start_s": "s",
    "spark.python_boot_s": "s",
    "spark.python_init_s": "s",
    "sources.codec.decode_ms_per_mpx": "ms/Mpx",
    "sources.codec.encode_us_per_tile": "us",
    "sources.codec.tile_bytes_per_kpx": "B/kpx",
    "operators.raster.slice_tiles.python_s": "s",
    "operators.raster.slice_tiles.to_python_mb": "MiB",
    "operators.raster.slice_tiles.from_python_mb": "MiB",
    "operators.raster.slice_tiles.rows_out": "count",
    "operators.raster.tiles_to_polygons.python_s": "s",
    "operators.raster.tiles_to_polygons.to_python_mb": "MiB",
    "functions.kernels_morph.erosion_clean_ms_per_mpx": "ms/Mpx",
    "functions.kernels_morph.label_ms_per_mpx": "ms/Mpx",
    "functions.kernels_vector.polygonize_ms_per_image": "ms",
    "spark.shuffle_write_mb": "MiB",
    "spark.shuffle_records": "count",
    "spark.spill_mb": "MiB",
    "spark.peak_mem_mb": "MiB",
    **{
        f"{pre}.{q}.{m}": unit
        for q in QUERIES
        for pre, m, unit in (
            ("operators.joins", "call_s", "s"),
            ("operators.joins", "exec_s", "s"),
            ("functions.cellindex", "cover_rows", "count"),
            ("operators.joins", "candidates", "count"),
            ("operators.joins", "hit_ratio", "ratio"),
        )
    },
    "operators.joins.knn_join.rounds": "count",
    "spark.broadcast_mb": "MiB",
    "spark.broadcast_build_s": "s",
    "spark.scan_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "streaming.manifest.run_resumable_s": "s",
    "streaming.manifest.write_s": "s",
    "streaming.manifest.lineage_s": "s",
    "streaming.manifest.visible_count_s": "s",
    "streaming.manifest.output_mb": "MiB",
    "streaming.manifest.manifest_mb": "MiB",
    "streaming.manifest.files": "count",
    "spark.failed_tasks": "count",
    "host.steal_frac": "ratio",
    "trace.overhead_frac": "ratio",
}

# per-pass fields of plan_metrics.summarize, by metric name
_SPARK = {
    "operators.raster.slice_tiles.python_s": "map_python_s",
    "operators.raster.slice_tiles.to_python_mb": "map_to_python_mb",
    "operators.raster.slice_tiles.from_python_mb": "map_from_python_mb",
    "operators.raster.slice_tiles.rows_out": "map_rows_out",
    "operators.raster.tiles_to_polygons.python_s": "group_python_s",
    "operators.raster.tiles_to_polygons.to_python_mb": "group_to_python_mb",
    "spark.shuffle_write_mb": "shuffle_write_mb",
    "spark.shuffle_records": "shuffle_records",
    "spark.spill_mb": "spill_mb",
    "spark.peak_mem_mb": "peak_mem_mb",
    "spark.broadcast_mb": "broadcast_mb",
    "spark.broadcast_build_s": "broadcast_build_s",
    "spark.scan_s": "scan_s",
}


def _med(xs):
    return statistics.median(xs) if xs else 0.0


def _job_stats(sc, group: str) -> dict[str, int]:
    """Jobs, stages, tasks and failed task attempts of one job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = failed = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        for sid in info.stageIds if info else []:
            s = st.getStageInfo(sid)
            if s:
                stages += 1
                tasks += s.numTasks
                failed += s.numFailedTasks
    return {"spark.jobs": len(jobs), "spark.stages": stages,
            "spark.tasks": tasks, "spark.failed_tasks": failed}


def per_layer(bench, setup: dict, rounds: list, rps_plain: list):
    wl = bench.wl.name
    sc = bench.spark.sparkContext
    samples: dict[str, list[float]] = {k: [] for k in PER_LAYER}
    spans_out = []
    traced = [r for r in rounds if r["traced"]]
    for rd in traced:
        tr = rd["tracer"]
        passes = [s for s in tr.spans if s["name"] == "pass"]
        for job, root in zip(rd["jobs"], passes):
            sub = tr.subtree(root)
            s = summarize([ex for sp in sub for ex in sp["executions"]])
            for name, field in _SPARK.items():
                samples[name].append(s[field])
            for name, v in _job_stats(sc, job.group).items():
                samples[name].append(v)
            by_name = {sp["name"]: sp for sp in sub}
            if wl == "join_queries" and not job.error:
                q = job.kind
                call = by_name[f"operators.joins.{q}"]
                samples[f"operators.joins.{q}.call_s"].append(span_s(call))
                samples[f"operators.joins.{q}.exec_s"].append(span_s(by_name["action"]))
                samples[f"functions.cellindex.{q}.cover_rows"].append(s["cover_rows"])
                if s["candidates"] and not s["fused_joins"]:
                    samples[f"operators.joins.{q}.candidates"].append(s["candidates"])
                    samples[f"operators.joins.{q}.hit_ratio"].append(job.rows / s["candidates"])
                if "rounds" in call["attrs"]:
                    samples["operators.joins.knn_join.rounds"].append(call["attrs"]["rounds"])
            if wl == "vectorize_write" and not job.error:
                rr = span_s(by_name["streaming.manifest.run_resumable"])
                root_dir = job.extra["root"]
                wall = pq.read_table(f"{root_dir}/manifest/stage={job.kind}",
                                     columns=["wall_sec"]).column("wall_sec")
                write_s = max(wall.to_pylist())
                out_b, out_files = du(f"{root_dir}/{job.kind}")
                man_b, man_files = du(f"{root_dir}/manifest")
                for name, v in (
                    ("run_resumable_s", rr), ("write_s", write_s),
                    ("lineage_s", rr - write_s),
                    ("visible_count_s", span_s(by_name["streaming.manifest.visible_count"])),
                    ("output_mb", out_b / 2**20), ("manifest_mb", man_b / 2**20),
                    ("files", out_files + man_files),
                ):
                    samples[f"streaming.manifest.{name}"].append(v)
        spans_out.extend(
            {k: v for k, v in sp.items() if k != "executions"}
            | {"layers": summarize(sp["executions"])}
            for sp in tr.spans
        )
    samples["session.start_s"] = setup["start_s"]
    samples["spark.python_boot_s"] = setup["boot_s"]
    samples["spark.python_init_s"] = setup["init_s"]
    samples["host.steal_frac"] = [r["steal"] for r in rounds]

    traced_rps, _ = bench.rates(traced)
    metrics = {}
    for name, unit in PER_LAYER.items():
        xs = samples[name]
        if name == "spark.failed_tasks":
            value = sum(xs)
        elif name == "trace.overhead_frac":
            value = _med(rps_plain) / _med(traced_rps) - 1 if traced_rps else 0.0
            xs = traced_rps
        else:
            value = _med(xs)
        metrics[name] = {"value": value, "unit": unit, "samples": len(xs)}

    if wl in ("tile_batch", "vectorize_write"):
        for name, v in replay(bench.inputs.sample_images()).items():
            metrics[name] = {"value": v, "unit": PER_LAYER[name], "samples": 1}

    unmeasured = {}
    for name, m in metrics.items():
        if m["value"] == 0 and name != "spark.failed_tasks":
            unmeasured[name] = _reason(wl, name)
    return metrics, unmeasured, spans_out


def _reason(wl: str, name: str) -> str:
    if name.startswith(("operators.joins.", "functions.cellindex.")) and wl != "join_queries":
        return "no spatial join in this workload"
    if name.endswith((".candidates", ".hit_ratio")):
        return ("the refine predicate is fused into the cell join's condition, so the "
                "join node counts rows after the refine; candidates are not in the plan")
    if name.startswith(("sources.codec.", "functions.kernels_")) and wl == "join_queries":
        return "no pixels in this workload"
    if name.startswith("operators.raster.") and wl == "join_queries":
        return "no raster stage in this workload"
    if name.startswith("operators.raster.tiles_to_polygons") and wl != "vectorize_write":
        return "only vectorize_write runs tiles_to_polygons"
    if name.startswith("streaming.manifest.") and wl != "vectorize_write":
        return "only vectorize_write writes through the manifest"
    if name.startswith("spark.python_") and wl == "join_queries":
        return "join_queries runs no Python worker"
    return "the executed plans of this workload report 0"
