"""Deploy-path benchmark of the transcript pipeline.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Workloads, each at ``local[nproc]``:

* ``flagship_batch``  — a fresh driver process calls
  ``run_pipeline.main(["--input", <parquet>, "--output", <dir>])`` on the
  generated transcripts table: what ``submit.sh`` ships, cold JVM and
  codegen included.
* ``flagship_resume`` — the same with ``--resume --num-buckets 4``: the
  checkpoint layer writes a bucketed copy, then 4 pruned per-bucket
  write/commit cycles; no cache.
* ``stream_drain``    — a warm driver drains a staged backlog of small
  parquet files through ``streaming_transcripts`` (maxFilesPerTrigger=1)
  and ``build_streaming_query`` at its defaults; each epoch is written by
  ``sinks.writer.write_partitioned``. Closed loop: the next micro-batch
  starts when the previous one commits.

Iterations repeat until ``--seconds`` of measuring have passed (at least
one). Every iteration's output is checked against the generator's truth
after its timing stops. ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` runs one untraced and one traced iteration and prints the
per-layer metrics. The last stdout line is the JSON result; the full
record, with provenance, goes to ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from check import check_output, output_stats  # noqa: E402
from tracing import layer_table, p50  # noqa: E402

WORKLOADS = ("flagship_batch", "flagship_resume", "stream_drain")
# Inputs. The flagship table is sized so one cold deploy run fits the
# per-run budget on 4 cores; the stream backlog is small files, one per
# micro-batch.
FLAGSHIP = {"rows": 50_000, "files": 8}
STREAM = {"rows": 30_000, "files": 6, "mfpt": 1}
RESUME_BUCKETS = 4
DRIVER_MEM = "2g"  # pinned: get_spark's 32g default exceeds this host class
DEADLINE_S = 170  # a run ends, result printed, within this
WORK = ".perfbench"
# Per-layer metrics of the layers a workload does not run. The result
# line must carry every per-layer metric, so these read 0 (no work).
NOT_RUN = {
    "flagship_batch": ("checkpoint.", "stream."),
    "flagship_resume": ("pipeline.materialize_s", "stream."),
    "stream_drain": ("aggregate.", "pipeline.materialize_s", "checkpoint."),
}


def provenance_host() -> dict:
    with open("/proc/meminfo") as f:
        mem = next(line for line in f if line.startswith("MemTotal:"))
    with open("/proc/loadavg") as f:
        load = f.read().split()[:3]
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return {
        "nproc": os.cpu_count(),
        "mem_total_kb": int(mem.split()[1]),
        "loadavg": [float(x) for x in load],
        # /proc/stat cpu line: user nice system idle iowait irq softirq steal ...
        "cpu_ticks": ticks,
    }


def steal_share(before: dict, after: dict) -> float:
    """Share of CPU time the hypervisor gave to other guests meanwhile."""
    d = [b - a for a, b in zip(before["cpu_ticks"], after["cpu_ticks"])]
    return d[7] / sum(d) if sum(d) else 0.0


def source_rev() -> dict:
    """git rev when the checkout is a repository, plus a hash of the
    program sources (the benchmark runs from non-git checkouts too)."""
    h = hashlib.sha256()
    files = ["run_pipeline.py"] + sorted(glob.glob("ilogtail_spark/**/*.py", recursive=True))
    for p in files:
        with open(p, "rb") as f:
            h.update(p.encode() + b"\0" + f.read())
    try:
        rev = subprocess.run(
            ["git", "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        rev = None
    return {"git_rev": rev, "source_sha256": h.hexdigest()[:16]}


def child_env(work: str) -> dict:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.getcwd(),
        SPARK_GRAFT_CPUS=str(os.cpu_count()),
        SPARK_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        # get_spark's collector, plus keeping JVM temp files in the checkout
        SPARK_GC_OPTS=f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    return env


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    return True


def run_child(spec: dict, work: str, timeout: float) -> dict:
    """Run worker.py in its own process group; wait for it and its JVM
    to end. Raises on failure or after ``timeout`` seconds."""
    base = os.path.join(work, "runs", os.path.basename(spec["output"]))
    spec_path, log_path = base + ".spec.json", base + ".log"
    spec["result"] = base + ".result.json"
    spec["spawn_t"] = time.monotonic()
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), spec_path],
            stdout=log, stderr=subprocess.STDOUT, env=child_env(work),
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=max(timeout, 1))
        finally:
            # the JVM shares the worker's process group
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
    if code != 0 or not os.path.exists(spec["result"]):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"worker exited {code}; log tail:\n{tail}")
    with open(spec["result"]) as f:
        res = json.load(f)
    for p in (spec_path, log_path, spec["result"]):
        os.remove(p)  # kept only when the worker fails
    deadline = time.monotonic() + 20
    while _pid_alive(res["jvm_pid"]) and time.monotonic() < deadline:
        time.sleep(0.1)
    res["child_s"] = time.monotonic() - spec["spawn_t"]
    return res


def make_input(workload: str, seed: int, work: str) -> dict:
    size = STREAM if workload == "stream_drain" else FLAGSHIP
    return gen.generate(os.path.join(work, "data"), seed, size["rows"], size["files"])


def one_iteration(
    workload: str, data: dict, work: str, seconds: float, trace: bool, deadline: float
) -> dict:
    """One driver process; returns its measurements plus the check."""
    out = os.path.join(work, "out", f"{workload}-{time.monotonic_ns()}")
    spec = {
        "workload": workload,
        "input": data["path"],
        "rows": data["rows"],
        "output": out,
        "trace": trace,
        "seconds": seconds,
        "eventlog_dir": out + "_eventlog",
    }
    if workload == "stream_drain":
        spec["mfpt"] = STREAM["mfpt"]
    if workload == "flagship_resume":
        spec["num_buckets"] = RESUME_BUCKETS
    if trace:
        os.makedirs(spec["eventlog_dir"])
    try:
        res = run_child(spec, work, deadline - time.monotonic())
        truth = data["truth"]
        if workload == "stream_drain":
            dirs = [os.path.join(out, f"drain{i}") for i in range(len(res["drains"]))]
        else:
            dirs = [out]
        res["errors"] = [e for d in dirs for e in check_output(d, workload, truth)]
        stats = [output_stats(d, workload) for d in dirs]
        res["out_bytes"] = sum(s["out_bytes"] for s in stats)
        res["output_stats"] = stats[-1]
        res["check_s"] = time.monotonic() - spec["spawn_t"] - res["child_s"]
    finally:
        for d in glob.glob(out + "*"):
            shutil.rmtree(d, ignore_errors=True)
    return res


def keep_going(t0: float, its: list[dict], seconds: float) -> bool:
    """Start another iteration only if it would end within ``seconds``
    of measuring, judged by the last iteration's length."""
    elapsed = time.monotonic() - t0
    return elapsed + elapsed / len(its) <= seconds


def end_to_end(its: list[dict]) -> dict:
    """Medians over the run's iterations (stream: over its drains); CPU
    and bytes are totals per turn."""
    med = statistics.median
    rows = sum(r["rows"] for r in its)
    return {
        "turns_per_s": (med(v for r in its for v in r["turns_per_s"]), "turns/s"),
        "setup_s": (med(r["setup_s"] for r in its), "s"),
        "cpu_s_per_mturn": (sum(r["jvm_cpu_s"] for r in its) / (rows / 1e6), "cpu-s/Mturn"),
        "peak_rss_mb": (med(r["peak_rss_mb"] for r in its), "MB"),
        "out_bytes_per_turn": (sum(r["out_bytes"] for r in its) / rows, "B/turn"),
    }


def per_layer(workload: str, traced: dict, untraced: dict) -> dict:
    """The per-layer table of one traced iteration; layers that do not
    run on the workload (``NOT_RUN``) report 0.

    Marginals are the noop-forced layer timings of ``time_layers``.
    """
    spans, lay = traced["spans"], traced["layer_s"]
    rows = traced["rows"]
    (deploy,) = [s for s in spans if s["name"] == "deploy"]
    g = layer_table(traced["jobs"], deploy["start"], deploy["end"])

    def total(group, key):
        return g[group][key] if group in g else 0

    def durations(name):
        return [s["end"] - s["start"] for s in spans if s["name"] == name and s["end"]]

    buckets = durations("checkpoint.bucket")
    ckpt_start = [s["start"] for s in spans if s["name"] == "checkpoint.run"]
    bucket_start = [s["start"] for s in spans if s["name"] == "checkpoint.bucket"]
    writes = durations("sink.write")
    stats = traced["output_stats"]
    drains = traced.get("drains", [])
    trigger_ms = [ms for d in drains for ms in d["trigger_ms"]]
    addbatch_ms = [ms for d in drains for ms in d["addbatch_ms"]]
    cpu = total("*", "executor_cpu_s")
    m = {
        "sources.scan_s": (lay["scan"], "s"),
        "parse.marginal_s": (lay["parse"], "s"),
        "parse.ok_ratio": (stats["parse_ok_ratio"], "ratio"),
        "enrich.marginal_s": (lay["enrich"], "s"),
        "route.marginal_s": (lay["route"], "s"),
        "route.fanout": (stats["routed_rows"] / rows, "ratio"),
        "aggregate.marginal_s": (lay["aggregate"], "s"),
        "aggregate.shuffle_bytes": (total("aggregate", "shuffle_write_bytes"), "B"),
        "pipeline.input_passes": (total("*", "input_rows") / rows, "ratio"),
        # batch: the jobs main() runs before write_per_sink, i.e. the
        # persist + distinct().collect() materialization
        "pipeline.materialize_s": (total("deploy", "wall_s"), "s"),
        "sink.write_s": (sum(writes), "s"),
        "sink.bytes_written": (stats["routed_bytes"], "B"),
        "sink.files_written": (stats["routed_files"], "count"),
        "checkpoint.materialize_s": (
            min(bucket_start) - ckpt_start[0] if bucket_start else 0.0, "s"),
        "checkpoint.bucket_s_p50": (p50(buckets), "s"),
        "checkpoint.bucket_s_max": (max(buckets, default=0.0), "s"),
        "checkpoint.commits": (len(buckets), "count"),
        "stream.batches": (len(trigger_ms), "count"),
        "stream.batch_latency_ms_p50": (p50(trigger_ms), "ms"),
        "stream.addbatch_ms_p50": (p50(addbatch_ms), "ms"),
        "stream.trigger_overhead_ms_p50": (
            p50([t - a for t, a in zip(trigger_ms, addbatch_ms)]), "ms"),
        "spark.executor_run_s": (total("*", "executor_run_s"), "s"),
        "spark.executor_cpu_s": (cpu, "s"),
        "spark.gc_s": (total("*", "gc_s"), "s"),
        "spark.shuffle_write_bytes": (total("*", "shuffle_write_bytes"), "B"),
        "spark.spill_bytes": (total("*", "spill_bytes"), "B"),
        "spark.cpu_util": (cpu / (traced["wall_s"] * os.cpu_count()), "ratio"),
        "trace.overhead_ratio": (
            statistics.median(traced["turns_per_s"]) / statistics.median(untraced["turns_per_s"]),
            "ratio"),
    }
    return {k: (0, u) if k.startswith(NOT_RUN[workload]) else (v, u)
            for k, (v, u) in m.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (os.path.isfile("run_pipeline.py") and os.path.isdir("ilogtail_spark")):
        print("perfbench: run from the repository root (run_pipeline.py and "
              "ilogtail_spark/ not found)", file=sys.stderr)
        return 2
    work = os.path.abspath(WORK)
    for d in ("runs", "out", "results"):
        os.makedirs(os.path.join(work, d), exist_ok=True)

    deadline = time.monotonic() + DEADLINE_S
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host_before": provenance_host(),
        "spark_driver_mem": DRIVER_MEM, **source_rev(),
    }
    t = time.monotonic()
    data = make_input(args.workload, args.seed, work)
    record["gen_s"] = time.monotonic() - t
    record["input"] = {f: data[f] for f in ("rows", "files", "bytes", "seed")}

    its: list[dict] = []
    attempted = failed = 0

    def attempt(trace: bool) -> bool:
        nonlocal attempted, failed
        attempted += 1
        try:
            res = one_iteration(args.workload, data, work, args.seconds, trace, deadline)
        except Exception as e:  # noqa: BLE001 — a failed run is counted, not fatal
            print(f"perfbench: iteration failed: {e}", file=sys.stderr)
            failed += 1
            return False
        its.append(res)
        if res["errors"]:
            failed += 1
            print("perfbench: output check failed:\n  " + "\n  ".join(res["errors"]),
                  file=sys.stderr)
        return True

    if args.trace:
        # untraced, then traced: their ratio is the tracing overhead
        if attempt(False):
            attempt(True)
    else:
        t0 = time.monotonic()
        while attempt(False) and keep_going(t0, its, args.seconds):
            pass

    record["host_after"] = provenance_host()
    record["steal_share"] = steal_share(record["host_before"], record["host_after"])
    record["engines"] = sorted({e for r in its for e in r.get("engine", [])})
    ok = failed == 0 and len(its) == (2 if args.trace else attempted)
    metrics: dict = {}
    if ok:
        if args.trace:
            metrics = per_layer(args.workload, its[1], its[0])
            record["spans"] = its[1]["spans"]
            record["layers"] = layer_table(its[1]["jobs"], 0, float("inf"))
        else:
            metrics = end_to_end(its)
    record["iterations"] = [
        {k: v for k, v in r.items() if k not in ("jobs", "spans")} for r in its
    ]
    result = {
        "correct": ok,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    record["result"] = result
    path = os.path.join(
        work, "results", f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}.json"
    )
    with open(path, "w") as f:
        json.dump(record, f, indent=1)
    print(f"perfbench: record written to {path}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
