"""One driver process of the benchmark: set up Spark, run a workload
through the shipped entry point, report what it measured.

    python3 perfbench/worker.py <spec.json>

The spec (written by run.py) names the workload, the generated input,
a fresh output dir and where to write the result JSON. Timing uses
``time.monotonic`` (system-wide on Linux), so ``spawn_t`` taken by the
parent just before it started this process marks driver process start.
"""

from __future__ import annotations

import inspect
import json
import os
import resource
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import tracing as tr  # noqa: E402

CLK_TCK = os.sysconf("SC_CLK_TCK")
WARMUP_DRAINS = 2


def jvm_cpu_s(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / CLK_TCK


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def start_session(spec: dict):
    from ilogtail_spark.session import get_spark

    conf = tr.eventlog_conf(spec["eventlog_dir"]) if spec["trace"] else None
    spark = get_spark("ilogtail-transcript-pipeline", extra_conf=conf)
    spark.sparkContext.setJobGroup("setup", "setup")
    spark.range(1).count()
    return spark


def record_engine(engines: list):
    """Wrap parse_stage so the run reports the engine main() passed."""
    from ilogtail_spark.plans import pipeline

    orig = pipeline.parse_stage

    def wrapper(df, *args, **kwargs):
        bound = inspect.signature(orig).bind(df, *args, **kwargs)
        bound.apply_defaults()
        engines.append(bound.arguments["engine"])
        return orig(df, *args, **kwargs)

    pipeline.parse_stage = wrapper


def run_flagship(spec: dict, spark, tracer, cpu) -> dict:
    import run_pipeline

    argv = ["--input", spec["input"], "--output", spec["output"]]
    if spec["workload"] == "flagship_resume":
        argv += ["--resume", "--num-buckets", str(spec["num_buckets"])]
    engines: list[str] = []
    record_engine(engines)
    if tracer:
        tracer.instrument_deploy()
        tracer.tag("deploy")
    cpu0, t, t_epoch = cpu(), time.monotonic(), time.time()
    run_pipeline.main(argv)
    wall = time.monotonic() - t
    if tracer:
        tracer.span("deploy", t_epoch, time.time())
    return {
        "rows": spec["rows"],
        "wall_s": wall,
        "jvm_cpu_s": cpu() - cpu0,
        "turns_per_s": [spec["rows"] / wall],
        "engine": sorted(set(engines)),
    }


def drain(spark, input_dir: str, out_dir: str, mfpt: int, cpu, tracer=None) -> dict:
    """Drain a staged backlog with an availableNow trigger; each epoch
    writes through write_partitioned into its own dir."""
    from ilogtail_spark.sinks.writer import write_partitioned
    from ilogtail_spark.streaming.job import build_streaming_query, streaming_transcripts

    def sink_fn(df, epoch_id: int) -> None:
        path = os.path.join(out_dir, "data", f"epoch={epoch_id}")
        if tracer:
            tracer.timed("sink.write", write_partitioned, df, path, group="sink.write")
        else:
            write_partitioned(df, path)

    stream = streaming_transcripts(spark, input_dir, max_files_per_trigger=mfpt)
    cpu0, t, t_epoch = cpu(), time.monotonic(), time.time()
    q = build_streaming_query(stream, spark, sink_fn, os.path.join(out_dir, "_checkpoint")).start()
    q.awaitTermination()
    wall = time.monotonic() - t
    if tracer:
        tracer.span("deploy", t_epoch, time.time())
    progress = [p for p in q.recentProgress if p.numInputRows > 0]
    return {
        "wall_s": wall,
        "jvm_cpu_s": cpu() - cpu0,
        "rows": sum(p.numInputRows for p in progress),
        "trigger_ms": [p.durationMs["triggerExecution"] for p in progress],
        "addbatch_ms": [p.durationMs.get("addBatch", 0) for p in progress],
    }


def run_stream(spec: dict, spark, tracer, cpu) -> dict:
    from ilogtail_spark.streaming.job import build_streaming_query

    # a long-lived session has paid for JIT and codegen: untimed drains
    # of the same backlog warm it (after only one, the first timed drain
    # still used about 40 % more JVM CPU than the next)
    for i in range(WARMUP_DRAINS):
        drain(spark, spec["input"], os.path.join(spec["output"], f"warmup{i}"), spec["mfpt"], cpu)
    drains = []
    t0 = time.monotonic()
    while True:
        out = os.path.join(spec["output"], f"drain{len(drains)}")
        drains.append(drain(spark, spec["input"], out, spec["mfpt"], cpu, tracer))
        elapsed = time.monotonic() - t0
        # one traced drain is the per-layer sample; untraced, drain again
        # while the next drain would still end within the measuring time
        if tracer or elapsed + elapsed / len(drains) > spec["seconds"]:
            break
    engine = inspect.signature(build_streaming_query).parameters["engine"].default
    return {
        "jvm_cpu_s": sum(d["jvm_cpu_s"] for d in drains),
        "rows": sum(d["rows"] for d in drains),
        "drains": drains,
        "wall_s": sum(d["wall_s"] for d in drains),
        "turns_per_s": [d["rows"] / d["wall_s"] for d in drains],
        "engine": [engine],
    }


def main(spec_path: str) -> None:
    with open(spec_path) as f:
        spec = json.load(f)
    spark = start_session(spec)
    ready = time.monotonic()
    jvm_pid = spark._jvm.ProcessHandle.current().pid()
    tracer = tr.Tracer(spark) if spec["trace"] else None
    run = run_stream if spec["workload"] == "stream_drain" else run_flagship
    res = run(spec, spark, tracer, lambda: jvm_cpu_s(jvm_pid))
    res["setup_s"] = ready - spec["spawn_t"]
    res["jvm_pid"] = jvm_pid
    res["peak_rss_mb"] = (
        vm_hwm_mb(jvm_pid)
        + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    )
    if tracer:
        tracer.restore()
        res["layer_s"] = tr.time_layers(tracer, spec["input"], res["engine"][0])
        res["spans"] = tracer.spans
        spark.stop()  # flushes the event log
        res["jobs"] = tr.read_eventlog(spec["eventlog_dir"], spec["input"])
    # untraced, the output is committed and measured: the parent ends the
    # JVM without waiting for a graceful stop
    with open(spec["result"], "w") as f:
        json.dump(res, f)

if __name__ == "__main__":
    main(sys.argv[1])
