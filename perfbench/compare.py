"""Compare benchmark results of a parent commit and a change.

Collect alternating pairs (parent first on even pairs, change first on odd
ones; both sides of a pair use the same seed), then report:

    python3 perfbench/compare.py run --parent ../parent --change . \\
        --workload tile_batch --out pairs.jsonl
    python3 perfbench/compare.py report pairs.jsonl

``run`` collects ten pairs, seeds 1000 to 1009.  ``report`` needs at least
ten complete pairs per workload and prints one row per workload and
metric.  A metric is ``better`` when the change wins at least 9 of 10
pairs (ties count for neither side) and the medians differ by more than
the parent's interquartile distance; ``worse`` when the change's median is
worse than the parent's by more than the metric's bound; ``unresolved``
when the parent's own spread (interquartile distance / median) is wider
than the bound and not every change run beats every parent run; otherwise
``same``.  Any rise in
the share of failed jobs is flagged.  Bounds come from ``BENCHMARK.json``
and, for the workload-specific figures, from ``rationale.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
MIN_PAIRS = 10
FIRST_SEED = 1000
WIN_SHARE = 0.9


def bounds(checkout: str) -> dict[str, dict]:
    """name -> {"better", "bound"} for every figure with a bound."""
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        spec = {m["name"]: m for m in json.load(f)["end_to_end"]}
    with open(os.path.join(HERE, "rationale.json")) as f:
        spec.update(json.load(f)["workload_metrics"])
    return spec


def run_pairs(args) -> None:
    """Alternate the two checkouts' benchmark runs; append both records of
    each pair to ``--out``."""
    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        seconds = str(json.load(f)["run_seconds"])
    for i in range(MIN_PAIRS):
        seed = FIRST_SEED + i
        sides = [("parent", args.parent), ("change", args.change)]
        if i % 2:
            sides.reverse()
        for side, checkout in sides:
            proc = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", args.workload,
                 "--seed", str(seed), "--seconds", seconds, "--trace", "0"],
                cwd=checkout, capture_output=True, text=True, timeout=600,
            )
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or len(lines) < 2:
                sys.stderr.write(proc.stderr[-4000:])
                raise SystemExit(f"{side} run failed (seed {seed})")
            record = {"side": side, "pair": i, "seed": seed,
                      "workload": args.workload,
                      "detail": json.loads(lines[-2])["detail"],
                      "result": json.loads(lines[-1])}
            with open(args.out, "a") as f:
                f.write(json.dumps(record) + "\n")
            print(f"pair {i} {side}: {record['result']['metrics']}", flush=True)


def _quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(parent: list[float], change: list[float], better: str, bound: float):
    """(verdict, wins, pairs) for paired samples of one metric."""
    sign = 1 if better == "higher" else -1
    wins = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    n = len(parent)
    q1, med_p, q3 = _quartiles(parent)
    med_c = statistics.median(change)
    iqr = q3 - q1
    spread = iqr / med_p if med_p else float("inf")
    if wins >= WIN_SHARE * n and abs(med_c - med_p) > iqr:
        return "better", wins, n
    if sign * (med_p - med_c) > bound * abs(med_p):
        return "worse", wins, n
    all_better = min(sign * c for c in change) > max(sign * p for p in parent)
    if spread > bound and not all_better:
        return "unresolved", wins, n
    return "same", wins, n


def report(args) -> int:
    records = []
    for path in args.files:
        with open(path) as f:
            records += [json.loads(line) for line in f if line.strip()]
    spec = bounds(args.checkout)
    rows, flagged = [], False
    for wl in sorted({r["workload"] for r in records}):
        mine = [r for r in records if r["workload"] == wl]
        by_seed = {}
        for r in mine:
            by_seed.setdefault(r["seed"], {})[r["side"]] = r
        pairs = [v for _, v in sorted(by_seed.items()) if len(v) == 2]
        if len(pairs) < MIN_PAIRS:
            raise SystemExit(f"{wl}: {len(pairs)} complete pairs, {MIN_PAIRS} needed")
        for name, m in spec.items():
            if name == "failed_frac":
                continue  # judged below from failed / attempted

            def values(side):
                return [p[side]["detail"]["metrics"].get(name, {}).get("value") for p in pairs]

            par, chg = values("parent"), values("change")
            keep = [(p, c) for p, c in zip(par, chg) if p is not None and c is not None]
            if not keep:
                continue
            par, chg = [p for p, _ in keep], [c for _, c in keep]
            v, wins, n = verdict(par, chg, m["better"], m["bound"])
            rows.append((wl, name, _quartiles(par), _quartiles(chg), f"{wins}/{n}", v))
        failed = {
            side: sum(p[side]["result"]["failed"] for p in pairs)
            / max(sum(p[side]["result"]["attempted"] for p in pairs), 1)
            for side in ("parent", "change")
        }
        if failed["change"] > failed["parent"]:
            flagged = True
            rows.append((wl, "failed_frac", (0, failed["parent"], 0),
                         (0, failed["change"], 0), "-", "FAILED JOBS ROSE"))
    print(f"{'workload':16} {'metric':16} {'parent median [q1, q3]':>32} "
          f"{'change median [q1, q3]':>32} {'wins':>6}  verdict")
    for wl, name, (p1, p2, p3), (c1, c2, c3), wins, v in rows:
        print(f"{wl:16} {name:16} {p2:12.5g} [{p1:.5g}, {p3:.5g}]".ljust(66)
              + f"{c2:12.5g} [{c1:.5g}, {c3:.5g}]".rjust(32) + f" {wins:>6}  {v}")
    return 1 if flagged else 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run", help="collect alternating pairs")
    r.add_argument("--parent", required=True, help="checkout of the parent commit")
    r.add_argument("--change", required=True, help="checkout of the change")
    r.add_argument("--workload", required=True)
    r.add_argument("--out", required=True)
    s = sub.add_parser("report", help="verdict per workload and metric")
    s.add_argument("files", nargs="+", help="pair files written by 'run'")
    s.add_argument("--checkout", default=os.path.dirname(HERE),
                   help="checkout whose BENCHMARK.json holds the bounds")
    args = p.parse_args(argv)
    if args.cmd == "run":
        run_pairs(args)
        return 0
    return report(args)


if __name__ == "__main__":
    raise SystemExit(main())
