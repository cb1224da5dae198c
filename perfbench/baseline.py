"""Record the committed baseline: sets of runs of every workload, one
seed per run, then one traced run per workload.

    python3 perfbench/baseline.py --out perfbench/baseline_4core.json

Run from the repository root with nothing else loading the host. For
each end-to-end metric it reports, per set, the median and the spread
(interquartile range over median, from ``statistics.quantiles(n=4)``),
and how far the second set's median moved from the first's, in either
direction; both are compared with the metric's bound in BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import provenance_host, source_rev  # noqa: E402

SETS = 2  # back-to-back sets of runs of the same code
SEEDS = 10  # runs per workload in a set, one seed each


def bench(cmd: list[str], workload: str, seed: int, seconds: int, trace: int) -> dict:
    t = time.monotonic()
    proc = subprocess.run(
        cmd + ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
               "--trace", str(trace)],
        capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    res = json.loads(lines[-1])
    res["elapsed_s"] = time.monotonic() - t
    marker = "perfbench: record written to "
    (path,) = [ln[len(marker):] for ln in proc.stderr.splitlines() if ln.startswith(marker)]
    with open(path) as f:
        res["record"] = json.load(f)
    print(f"{workload} seed={seed} trace={trace} {res['elapsed_s']:.0f}s correct={res['correct']}",
          file=sys.stderr, flush=True)
    return res


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med, "values": values}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    workloads = [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m for m in spec["end_to_end"]}

    out = {
        "host": provenance_host(), **source_rev(), "run_seconds": spec["run_seconds"],
        "started": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "sets": [], "traced": {},
    }
    for s in range(SETS):
        runs = {}
        for w in workloads:
            res = [
                bench(spec["command"], w, 1000 * (s + 1) + i, spec["run_seconds"], 0)
                for i in range(SEEDS)
            ]
            runs[w] = {
                "steal_share": [r["record"]["steal_share"] for r in res],
                "attempted": sum(r["attempted"] for r in res),
                "failed": sum(r["failed"] for r in res),
                "correct": all(r["correct"] for r in res),
                "elapsed_s": [r["elapsed_s"] for r in res],
                "metrics": {
                    name: {**summarize([r["metrics"][name]["value"] for r in res]),
                           "unit": bounds[name]["unit"]}
                    for name in bounds
                },
            }
        out["sets"].append(runs)
    for w in workloads:
        res = bench(spec["command"], w, 1, spec["run_seconds"], 1)
        rec = res.pop("record")
        # the per-layer metrics plus the per-tag Spark table behind them
        out["traced"][w] = {
            **res,
            **{k: rec[k] for k in ("engines", "input", "host_before", "host_after",
                                   "steal_share", "layers")},
        }
    out["host_after"] = provenance_host()

    verdict = {}
    for w in workloads:
        rows = {}
        for name, b in bounds.items():
            meds = [st[w]["metrics"][name]["median"] for st in out["sets"]]
            spreads = [st[w]["metrics"][name]["spread"] for st in out["sets"]]
            shift = [(m - meds[0]) / meds[0] for m in meds[1:]]
            rows[name] = {
                "spread_max": max(spreads),
                "spread_within_bound": max(spreads) <= b["bound"],
                "spread_within_third": max(spreads) < b["bound"] / 3,
                "second_median_shift": max(shift, key=abs),
                "medians_within_bound": all(abs(x) <= b["bound"] for x in shift),
            }
        verdict[w] = rows
    out["verdict"] = verdict
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    for w, rows in verdict.items():
        for name, r in rows.items():
            print(f"{w:16s} {name:22s} spread {r['spread_max']:.3f} "
                  f"shift {r['second_median_shift']:+.3f} "
                  f"{'ok' if r['spread_within_bound'] and r['medians_within_bound'] else 'FAIL'}"
                  f"{'' if r['spread_within_third'] else ' (spread >= bound/3)'}")


if __name__ == "__main__":
    main()
