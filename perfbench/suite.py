"""Run every workload and print the report; compare two reports.

From the root of a checkout::

    python3 perfbench/suite.py                      # seed 1, untraced + traced
    python3 perfbench/suite.py --seeds 1-10 --no-trace --out a.json
    python3 perfbench/suite.py --compare a.json b.json

For each workload and seed it runs ``perfbench/run.py`` once untraced
(end-to-end metrics) and, unless ``--no-trace``, once traced (per-layer
metrics).  It prints every end-to-end metric by name with its unit and
sample count, the failed share with each failure, the per-layer
metrics, and the tracing overhead: the traced run's ``wall_s`` minus
the untraced run's.  With several seeds it prints each metric's median
and quartile spread (IQR / median) across seeds.

Every run measures ``run_seconds`` of ``BENCHMARK.json``.  ``--compare``
refuses reports taken at different core counts or run lengths.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
BENCH = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def run_one(workload: str, seed: int, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(BENCH["run_seconds"]),
         "--trace", str(trace)],
        capture_output=True, text=True, check=False,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise SystemExit(
            f"{workload} seed {seed} trace {trace} failed "
            f"(exit {proc.returncode}):\n{proc.stderr[-3000:]}"
        )
    return {**json.loads(lines[-2]), "result": json.loads(lines[-1])}


def spread(values: list[float]) -> float:
    """Quartile spread as a share of the median."""
    if len(values) < 2:
        return 0.0
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else 0.0


def report(runs: list[dict]) -> None:
    for wl in BENCH["workloads"]:
        name = wl["name"]
        plain = [r for r in runs if r["detail"]["workload"] == name
                 and not r["detail"]["trace"]]
        traced = [r for r in runs if r["detail"]["workload"] == name
                  and r["detail"]["trace"]]
        if not plain:
            continue
        env = plain[0]["detail"]["env"]
        print(f"\n== {name}  ({wl['why']})")
        print(f"   env: {json.dumps(env)}")
        d0 = plain[0]["detail"]
        print(f"   inputs: {d0['input_rows']} rows, {d0['input_bytes']} bytes")
        print(f"   {'metric':32s} {'median':>14s} {'unit':6s} {'samples/run':>11s}"
              f" {'runs':>4s} {'IQR/med':>8s}")
        for m in BENCH["end_to_end"]:
            vals = [r["result"]["metrics"][m["name"]]["value"] for r in plain]
            samples = plain[0]["detail"]["samples"][m["name"]]
            print(f"   {m['name']:32s} {statistics.median(vals):14.4f} "
                  f"{m['unit']:6s} {samples:11d} {len(vals):4d} "
                  f"{spread(vals):8.3f}")
        failed = [r["detail"]["failed_frac"] for r in plain]
        attempted = sum(r["result"]["attempted"] for r in plain)
        print(f"   failed_frac: median {statistics.median(failed):.4f} "
              f"({sum(r['result']['failed'] for r in plain)} of {attempted} ops)")
        for r in plain:
            for f in r["detail"]["failures"]:
                print(f"     seed {r['detail']['env']['seed']}: {f['op']} "
                      f"({f['kind']}): {f['error']}")
        for r in plain:
            for probe, out in r["detail"]["known_defects"].items():
                print(f"     known defect, seed {r['detail']['env']['seed']}: "
                      f"{probe}: {json.dumps(out)}")
        tails = [r["detail"]["read_tail"] for r in plain if r["detail"]["read_tail"]]
        print("   read_p90_s: not reported, a run has "
              f"{plain[0]['detail']['samples']['read_p50_s']} reads (needs 100)"
              + (f"; highest tail with 10 beyond: p{tails[0]['percentile']:.0f}"
                 if tails else ""))
        for t in traced:
            seed = t["detail"]["env"]["seed"]
            base = [r for r in plain if r["detail"]["env"]["seed"] == seed]
            pl = t["result"]["metrics"]
            print(f"   per-layer (traced, seed {seed}):")
            for m in BENCH["per_layer"]:
                v = pl[m["name"]]["value"]
                print(f"     {m['name']:50s} {v:16.4f} {m['unit']}")
            if base:
                w0 = base[0]["result"]["metrics"]["wall_s"]["value"]
                w1 = pl["trace.wall_s"]["value"]
                print(f"   tracing overhead: {w1 - w0:+.3f} s on wall_s "
                      f"({(w1 - w0) / w0:+.1%} of {w0:.3f} s)")


def compare(a_path: str, b_path: str) -> int:
    a, b = (json.loads(Path(p).read_text()) for p in (a_path, b_path))
    cores = {r["detail"]["env"]["nproc"] for r in a + b}
    if len(cores) != 1:
        print(f"refusing to compare: results were taken at core counts "
              f"{sorted(cores)}; re-run both sides on one box", file=sys.stderr)
        return 2
    lengths = {r["detail"]["seconds"] for r in a + b}
    if len(lengths) != 1:
        print(f"refusing to compare: results were taken with run lengths "
              f"{sorted(lengths)} s", file=sys.stderr)
        return 2
    for wl in BENCH["workloads"]:
        for m in BENCH["end_to_end"]:
            sides = [
                [r["result"]["metrics"][m["name"]]["value"] for r in runs
                 if r["detail"]["workload"] == wl["name"]
                 and not r["detail"]["trace"]]
                for runs in (a, b)
            ]
            if not all(sides):
                continue
            ma, mb = (statistics.median(s) for s in sides)
            print(f"{wl['name']:16s} {m['name']:30s} {ma:14.4f} {mb:14.4f} "
                  f"{(mb - ma) / ma:+8.1%}  spreads {spread(sides[0]):.3f} "
                  f"{spread(sides[1]):.3f}")
    return 0


def seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", default="1", help="e.g. 1-10 or 3,5")
    ap.add_argument("--no-trace", action="store_true")
    ap.add_argument("--out", help="write the raw results here (JSON)")
    ap.add_argument("--compare", nargs=2, metavar=("A", "B"))
    args = ap.parse_args()
    if args.compare:
        return compare(*args.compare)
    runs = []
    for wl in BENCH["workloads"]:
        for s in seeds(args.seeds):
            runs.append(run_one(wl["name"], s, 0))
            if not args.no_trace:
                runs.append(run_one(wl["name"], s, 1))
    if args.out:
        Path(args.out).write_text(json.dumps(runs))
    report(runs)
    return 0


if __name__ == "__main__":
    sys.exit(main())
