"""Benchmark runner: one workload, one seed, one closed loop.

    python3 perfbench/run.py --workload tile_batch --seed 1 --seconds 15 --trace 0

Run from the repository root.  One client thread submits the next job only
after the previous one returned.  Spark runs at ``local[<nproc>]``; the
``tile_batch`` scaling leg reruns the same input once at ``local[1]``.

Output: a ``{"detail": ...}`` line (every figure with its unit, sample
count and host facts), then, as the last line, the result object
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` the per-layer metrics, from a run in
which traced and untraced rounds alternate.  Work files (cached inputs,
per-seed copies, spans, result history) live under ``.bench_build/perfbench``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
SETUP_REPS = 2
MIN_ROUNDS = 2  # every figure that is a median over rounds has two or more
SETTLE_ROUNDS = {"tile_batch": 2, "join_queries": 1, "vectorize_write": 1}


def reported(section: str) -> list[str]:
    """Names of BENCHMARK.json's ``end_to_end`` or ``per_layer`` metrics:
    the result line carries exactly these."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [m["name"] for m in json.load(f)[section]]


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=["tile_batch", "join_queries", "vectorize_write"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """(label, value): the highest percentile with at least ten samples
    beyond it, or (None, None) below eleven samples."""
    n = len(xs)
    if n < 11:
        return None, None
    return f"p{100 * (n - 10) // n}", sorted(xs)[n - 11]


class Bench:
    def __init__(self, args):
        import hoststat
        from inputs import Inputs
        from workloads import WORKLOADS

        self.args = args
        self.cores = hoststat.nproc()
        self.heap = hoststat.jvm_heap()
        self.inputs = Inputs(WORK_DIR, args.workload)
        self.wl = WORKLOADS[args.workload](self.inputs, args.seed)
        self.spark = None
        self.rng = random.Random(args.seed)

    # -- sessions --------------------------------------------------------------
    def session(self, cores: int):
        import vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark as vm

        if self.spark is not None:
            self.spark.stop()
        self.spark = vm.get_spark(
            app_name="perfbench",
            master=f"local[{cores}]",
            shuffle_partitions=2 * cores,  # the submit.py default
            extra_conf={
                "spark.driver.memory": self.heap,
                # a fixed-size, pre-touched heap: G1 does not resize it, and
                # the JVM's resident size does not depend on how much of the
                # heap a short run happened to touch
                "spark.driver.extraJavaOptions":
                    f"-Xms{self.heap} -XX:+AlwaysPreTouch -Djava.io.tmpdir={WORK_DIR}/tmp",
                "spark.sql.warehouse.dir": f"{WORK_DIR}/warehouse",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def setup(self, cores: int, warm: str, trace: bool, reps: int = SETUP_REPS) -> dict:
        """Session start plus one warm-up pass on the tiny input, repeated
        ``reps`` times; the first repetition also launches the JVM."""
        from plan_metrics import QueryCapture, summarize
        from workloads import Tracer

        start, total, boot, init = [], [], [], []
        for _ in range(reps):
            t0 = time.perf_counter()
            spark = self.session(cores)
            t1 = time.perf_counter()
            cap = QueryCapture(spark) if trace else None
            tr = Tracer(cap)
            with cap or nullcontext():
                for kind in self.wl.warm_kinds:
                    self.wl.run(spark, warm, kind, tr, check_out=False)
            total.append(time.perf_counter() - t0)
            start.append(t1 - t0)
            s = summarize([ex for sp in tr.spans for ex in sp["executions"]])
            boot.append(s["python_boot_s"])
            init.append(s["python_init_s"])
        return {"setup_s": total, "start_s": start, "boot_s": boot, "init_s": init}

    # -- the closed loop -------------------------------------------------------
    def settle(self, d: str) -> None:
        """Untimed full-size rounds after set-up: the JIT and the workers'
        allocators reach steady state before the first timed pass."""
        from workloads import Tracer

        for _ in range(SETTLE_ROUNDS[self.wl.name]):
            for kind in self.wl.kinds(random.Random(0)):
                self.wl.run(self.spark, d, kind, Tracer(), check_out=False)

    def loop(self, d: str, seconds: float, trace: bool, min_rounds: int = 1):
        """Rounds of jobs until ``seconds`` passed; with ``trace`` every
        second round is traced."""
        import hoststat
        from plan_metrics import QueryCapture
        from workloads import Result, Tracer

        spark = self.spark
        cap = QueryCapture(spark) if trace else None
        rounds = []
        t_end = time.perf_counter() + seconds
        with hoststat.RssSampler() as rss:
            while True:
                traced = trace and len(rounds) % 2 == 1
                tr = Tracer(cap if traced else None)
                steal0, cpu0 = hoststat.cpu_times(), hoststat.engine_cpu_s()
                jobs = []
                with (cap if traced else None) or nullcontext():
                    for kind in self.wl.kinds(self.rng):
                        group = f"pb-{len(rounds)}-{len(jobs)}"
                        spark.sparkContext.setJobGroup(group, group)
                        try:
                            r = self.wl.run(spark, d, kind, tr)
                        except Exception as ex:  # a failed job is counted, not fatal
                            traceback.print_exc()
                            r = Result(kind)
                            r.error = f"{type(ex).__name__}: {str(ex).splitlines()[0] if str(ex) else ''}"
                        r.group = group
                        if r.error:
                            print(f"check failed: {kind}: {r.error}", file=sys.stderr)
                        jobs.append(r)
                cpu = hoststat.engine_cpu_s() - cpu0
                steal = hoststat.steal_frac(steal0, hoststat.cpu_times())
                rounds.append({"jobs": jobs, "cpu_s": cpu, "steal": steal,
                               "rss_mb": rss.take(), "traced": traced, "tracer": tr})
                if time.perf_counter() >= t_end and len(rounds) >= min_rounds:
                    break
        return rounds

    # -- figures -----------------------------------------------------------------
    @staticmethod
    def rates(rounds):
        """Per round: checked rows per second, CPU seconds per 1000 rows."""
        rps, cpk = [], []
        for rd in rounds:
            rows = sum(j.rows for j in rd["jobs"] if not j.error)
            wall = sum(j.wall_s for j in rd["jobs"])
            if rows and wall:
                rps.append(rows / wall)
                cpk.append(rd["cpu_s"] / (rows / 1000.0))
        return rps, cpk

    def run(self) -> dict:
        a = self.args
        trace = bool(a.trace)
        phases, t = {}, time.perf_counter()
        self.inputs.prepare(lambda: self.session(self.cores))
        base, warm = self.inputs.materialize(a.seed)
        phases["inputs_s"], t = time.perf_counter() - t, time.perf_counter()
        setup = self.setup(self.cores, warm, trace)
        phases["setup_s"], t = time.perf_counter() - t, time.perf_counter()
        self.settle(base)
        phases["settle_s"], t = time.perf_counter() - t, time.perf_counter()
        rounds = self.loop(base, a.seconds, trace, min_rounds=MIN_ROUNDS)
        phases["loop_s"], t = time.perf_counter() - t, time.perf_counter()
        plain = [r for r in rounds if not r["traced"]]
        rps, cpk = self.rates(plain)
        jobs = [j for r in plain for j in r["jobs"]]
        walls = [j.wall_s for j in jobs if not j.error]
        all_jobs = [j for r in rounds for j in r["jobs"]]
        detail = {
            "workload": a.workload, "seed": a.seed, "trace": a.trace,
            "host": {"nproc": self.cores, "mem_total_mb": _mem_mb(),
                     "jvm_heap": self.heap, "master": f"local[{self.cores}]",
                     "steal_frac_per_round": [r["steal"] for r in rounds]},
            "setup": setup,
            "phases": phases,
            "metrics": {
                # work an engine change moves into warm-up shows here
                "setup_s": _m(median(setup["setup_s"]) + phases["settle_s"], "s",
                              len(setup["setup_s"])),
                "rows_per_s": _m(median(rps), "rows/s", len(rps)),
                "job_s_p50": _m(median(walls), "s", len(walls)),
                "cpu_s_per_krow": _m(median(cpk), "s", len(cpk)),
                "peak_rss_mb": _m(median([r["rss_mb"] for r in plain]), "MiB", len(plain)),
            },
            "job_walls": [[j.kind, j.wall_s] for j in jobs],
            "round_rows_per_s": rps,
        }
        label, value = tail(walls)
        detail["metrics"]["job_s_tail"] = _m(value, "s", len(walls), percentile=label)
        if a.workload == "vectorize_write" and not trace:
            import hoststat

            written = [sum(hoststat.du(f"{j.extra['root']}/{p}")[0] for p in (j.kind, "manifest"))
                       for j in jobs if not j.error]
            detail["metrics"]["written_mb"] = _m(median(written) / 2**20, "MiB", len(written))
        if a.workload == "tile_batch" and not trace:
            all_jobs += self.scaling(base, warm, rps, detail)
            phases["scaling_s"] = time.perf_counter() - t
        failed = sum(1 for j in all_jobs if j.error)
        detail["metrics"]["failed_frac"] = _m(failed / max(len(all_jobs), 1), "ratio",
                                              len(all_jobs))
        if trace:
            from layers import per_layer

            detail["per_layer"], detail["unmeasured"], spans = per_layer(
                self, setup, rounds, rps)
            os.makedirs(f"{WORK_DIR}/traces", exist_ok=True)
            with open(f"{WORK_DIR}/traces/{a.workload}-seed{a.seed}.json", "w") as f:
                json.dump(spans, f)
            metrics = {k: detail["per_layer"][k] for k in reported("per_layer")}
        else:
            metrics = {k: detail["metrics"][k] for k in reported("end_to_end")}
        result = {
            "correct": failed == 0,
            "attempted": len(all_jobs),
            "failed": failed,
            "metrics": {k: {"value": v["value"], "unit": v["unit"]} for k, v in metrics.items()},
        }
        return detail, result

    def scaling(self, base, warm, rps_n, detail) -> list:
        """One pass of the same input at local[1]: rows_per_s at local[n] /
        (n x at local[1]).  Not gated, so one sample is enough."""
        self.setup(1, warm, trace=False, reps=1)
        rounds = self.loop(base, 0, False)
        rps_1, _ = self.rates(rounds)
        n = self.cores
        ratio = median(rps_n) / (n * median(rps_1)) if rps_1 and rps_n else 0.0
        detail["metrics"][f"scaling_1to{n}"] = _m(
            ratio, "ratio", len(rps_1), cores_low=1, cores_high=n,
            rows_per_s_low=median(rps_1))
        return [j for r in rounds for j in r["jobs"]]

    def close(self):
        """Stop Spark and wait for the JVM (and with it the Python worker
        daemon) to exit: closing its stdin ends the gateway server."""
        if self.spark is not None:
            proc = self.spark.sparkContext._gateway.proc
            self.spark.stop()
            proc.stdin.close()
            proc.wait(timeout=60)
        self.inputs.cleanup()


def _m(value, unit, samples, **extra):
    return {"value": value, "unit": unit, "samples": samples, **extra}


def _mem_mb():
    import hoststat

    return hoststat.mem_total_bytes() // hoststat.MIB


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [HERE, ROOT]
    for sub in ("tmp", "spark-local"):
        os.makedirs(f"{WORK_DIR}/{sub}", exist_ok=True)
    # Python workers import the engine from the checkout; every temp file of
    # the JVM, the workers and Spark's block manager stays in the work dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = f"{WORK_DIR}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{WORK_DIR}/spark-local"
    bench = Bench(args)
    try:
        detail, result = bench.run()
    finally:
        bench.close()
    os.makedirs(f"{WORK_DIR}/results", exist_ok=True)
    record = {"time": time.time(), "detail": detail, "result": result}
    with open(f"{WORK_DIR}/results/{args.workload}.jsonl", "a") as f:
        f.write(json.dumps(record) + "\n")
    print(json.dumps({"detail": detail}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
