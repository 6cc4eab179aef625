"""Collect sets of benchmark runs and compare them.

Collect one set (one run per workload and seed, stdout kept per run)::

    python3 perfbench/compare.py collect OUT_DIR --seeds 1-10 [--workloads sql_batch,etl_ingest] [--trace 0]

Summarise one set, or compare two::

    python3 perfbench/compare.py report A_DIR [B_DIR]

For each (workload, metric) the report prints the run count, the median,
the first and third quartiles (``statistics.quantiles(n=4)``) and the
spread ``(q3 - q1) / median``.  With two sets it adds B's median, the change
of B's median over A's, and whether both sets agree within the metric's
``bound`` from ``BENCHMARK.json``: each spread within the bound (``setup_s``
exempt) and the medians within the bound of each other.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def seeds(text: str) -> list[int]:
    if "-" in text:
        a, b = text.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in text.split(",")]


def collect(args) -> int:
    spec = load_spec()
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    os.makedirs(args.out_dir, exist_ok=True)
    for w in workloads:
        for seed in seeds(args.seeds):
            cmd = spec["command"] + [
                "--workload", w, "--seed", str(seed),
                "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace),
            ]
            r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            with open(os.path.join(args.out_dir, f"{w}.{seed}.out"), "w") as fh:
                fh.write(r.stdout)
            last = (r.stdout.strip().splitlines() or [""])[-1]
            print(f"{w} seed {seed}: exit {r.returncode} {last[:120]}", flush=True)
    return 0


def read_set(d: str) -> dict[tuple[str, str], list[float]]:
    vals: dict[tuple[str, str], list[float]] = {}
    for path in sorted(glob.glob(os.path.join(d, "*.out"))):
        workload = os.path.basename(path).split(".")[0]
        with open(path) as fh:
            lines = fh.read().strip().splitlines()
        try:
            res = json.loads(lines[-1])
        except (IndexError, ValueError):
            print(f"no result in {path}", file=sys.stderr)
            continue
        if not res["correct"]:
            print(f"incorrect run {path}: {res['failed']} failed", file=sys.stderr)
        for name, m in res["metrics"].items():
            vals.setdefault((workload, name), []).append(m["value"])
    return vals


def quartiles(v: list[float]) -> tuple[float, float, float]:
    if len(v) < 2:
        return v[0], v[0], v[0]
    q1, med, q3 = statistics.quantiles(v, n=4)
    return q1, statistics.median(v), q3


def spread(v: list[float]) -> float:
    q1, med, q3 = quartiles(v)
    return (q3 - q1) / med if med else 0.0


def report(args) -> int:
    bounds = {m["name"]: m["bound"] for m in load_spec()["end_to_end"]}
    a = read_set(args.a)
    b = read_set(args.b) if args.b else None
    ok = True
    head = f"{'workload':12} {'metric':34} {'n':>3} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>7}"
    if b is not None:
        head += f" {'median B':>12} {'change':>7} {'spread B':>8} agree"
    print(head)
    for key in sorted(a):
        va = a[key]
        q1, med, q3 = quartiles(va)
        line = f"{key[0]:12} {key[1]:34} {len(va):3} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread(va):7.3f}"
        bound = bounds.get(key[1])
        if b is not None and key in b:
            vb = b[key]
            med_b = statistics.median(vb)
            change = (med_b - med) / med if med else 0.0
            line += f" {med_b:12.4f} {change:7.3f} {spread(vb):8.3f}"
            if bound is not None:
                spreads_ok = key[1] == "setup_s" or max(spread(va), spread(vb)) <= bound
                agree = spreads_ok and abs(change) <= bound
                ok &= agree
                line += " yes" if agree else f" NO (bound {bound})"
        elif bound is not None and key[1] != "setup_s":
            line += "" if spread(va) <= bound / 3 else f"  (above a third of bound {bound})"
        print(line)
    return 0 if ok else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect")
    c.add_argument("out_dir")
    c.add_argument("--seeds", default="1-10")
    c.add_argument("--workloads", default="")
    c.add_argument("--trace", type=int, choices=(0, 1), default=0)
    r = sub.add_parser("report")
    r.add_argument("a")
    r.add_argument("b", nargs="?")
    args = ap.parse_args(argv)
    return collect(args) if args.cmd == "collect" else report(args)


if __name__ == "__main__":
    sys.exit(main())
