"""Outside-in tracing of one deploy run.

Spans are recorded by wrapping, from the benchmark's side, the public
functions that ``run_pipeline.main`` imports at call time, and every
Spark job is tagged with the layer that launched it through
``setJobGroup``. Write-path jobs carry no Python call site in the event
log, so the wrappers are the only way to attribute them. Spans stay in
memory and leave the worker with its result.

The event log (``spark.eventLog.enabled``, uncompressed) then gives
per-layer task time, CPU, GC, shuffle, spill and the rows each scan of
the input table produced.
"""

from __future__ import annotations

import json
import os
import statistics
import time


def eventlog_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        # Spark 4 writes zstd event logs by default; zstandard is not
        # installed, and plain JSON lines need no codec to read back
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class Tracer:
    """Spans plus job-group tagging for one Spark session."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []

    def tag(self, group: str) -> None:
        self.spark.sparkContext.setJobGroup(group, group)

    def span(self, name: str, start: float, end: float, **attrs) -> dict:
        s = {"name": name, "start": start, "end": end, **attrs}
        self.spans.append(s)
        return s

    def timed(self, name: str, fn, *args, group: str | None = None, **kwargs):
        if group:
            self.tag(group)
        t = time.time()
        try:
            return fn(*args, **kwargs)
        finally:
            self.span(name, t, time.time())

    def patch(self, owner, attr: str, make) -> None:
        """Replace ``owner.attr`` with ``make(original)`` until
        :meth:`restore`."""
        orig = getattr(owner, attr)
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def instrument_deploy(self) -> None:
        """Wrap the layers ``run_pipeline.main`` calls into."""
        from pyspark.sql.readwriter import DataFrameWriter

        from ilogtail_spark.plans import checkpoint, metrics, pipeline
        from ilogtail_spark.sinks import writer

        def spanned(name, group):
            def make(orig):
                def wrapper(*args, **kwargs):
                    return self.timed(name, orig, *args, group=group, **kwargs)

                return wrapper

            return make

        def tagged(group):
            # lazy plan builders: the job runs after they return, so the
            # tag stays set for the write that follows
            def make(orig):
                def wrapper(*args, **kwargs):
                    self.tag(group)
                    return orig(*args, **kwargs)

                return wrapper

            return make

        def run_with_checkpoint(orig):
            def wrapper(df, out_dir, pipeline_fn, *args, **kwargs):
                def bucket(part):
                    self.tag("checkpoint.bucket")
                    self.spans.append(
                        {"name": "checkpoint.bucket", "start": time.time(), "end": None}
                    )
                    return pipeline_fn(part)

                return self.timed(
                    "checkpoint.run", orig, df, out_dir, bucket, *args,
                    group="checkpoint.materialize", **kwargs,
                )

            return wrapper

        def bucket_write(orig):
            # the per-bucket routed write: the one parquet write made
            # while a bucket span is open
            def wrapper(writer, *args, **kwargs):
                if any(s["name"] == "checkpoint.bucket" and s["end"] is None
                       for s in self.spans):
                    return self.timed("sink.write", orig, writer, *args, **kwargs)
                return orig(writer, *args, **kwargs)

            return wrapper

        def commit(orig):
            def wrapper(log, bucket, meta):
                orig(log, bucket, meta)
                open_spans = [
                    s for s in self.spans
                    if s["name"] == "checkpoint.bucket" and s["end"] is None
                ]
                if open_spans:
                    open_spans[-1].update(end=time.time(), bucket=bucket)

            return wrapper

        self.patch(writer, "write_per_sink", spanned("sink.write", "sink.write"))
        self.patch(pipeline, "sink_aggregates", tagged("aggregate"))
        self.patch(pipeline, "tool_histogram", tagged("aggregate"))
        self.patch(metrics.StageMetrics, "to_df", tagged("metrics"))
        self.patch(checkpoint, "run_with_checkpoint", run_with_checkpoint)
        self.patch(checkpoint.CommitLog, "commit", commit)
        self.patch(DataFrameWriter, "parquet", bucket_write)


# rounds of each layer timing; the minimum over them is kept
LAYER_ROUNDS = 3


def time_layers(tracer: Tracer, input_path: str, engine: str) -> dict:
    """Seconds each layer of the public stage functions adds, forced to
    a ``noop`` sink; min over ``LAYER_ROUNDS``.

    The scan is timed from the input parquet. Every later layer runs
    over its input cached in memory (the previous layer's output) and
    the time to read that cached input is subtracted, so the run-to-run
    noise of the layers before it does not enter its marginal. Both
    aggregates read the routed rows, so their input is read twice.
    """
    from ilogtail_spark.plans.pipeline import (
        enrich_stage,
        parse_stage,
        route_stage,
        sink_aggregates,
        tool_histogram,
    )

    spark = tracer.spark
    layers = [
        ("parse", lambda d: [parse_stage(d, engine=engine)]),
        ("enrich", lambda d: [enrich_stage(d, spark)]),
        ("route", lambda d: [route_stage(d)]),
        ("aggregate", lambda d: [sink_aggregates(d), tool_histogram(d)]),
    ]

    def best(name: str, dfs) -> float:
        tracer.tag(f"layer.{name}")
        times = []
        for _ in range(LAYER_ROUNDS):
            t = time.time()
            for df in dfs:
                df.write.format("noop").mode("overwrite").save()
            times.append(time.time() - t)
            tracer.span(f"layer.{name}", t, t + times[-1])
        return min(times)

    df = spark.read.parquet(input_path)
    out = {"scan": best("scan", [df])}
    cached = []
    for name, stage in layers:
        df = df.cache()
        cached.append(df)
        tracer.tag(f"layer.{name}.cache")
        df.write.format("noop").mode("overwrite").save()
        dfs = stage(df)
        read = best(f"{name}.input", [df] * len(dfs))
        out[name] = best(name, dfs) - read
        df = dfs[0]
    for df in cached:
        df.unpersist()
    return out


# ---------------------------------------------------------------- event log


def _walk(node):
    yield node
    for child in node.get("children", []):
        yield from _walk(child)


METRICS = (
    "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_write_bytes",
    "spill_bytes", "input_rows",
)


def read_eventlog(log_dir: str, input_path: str) -> list[dict]:
    """One record per Spark job: its group tag, submit/end times (epoch
    ms) and the summed task metrics of its stages, including the rows
    its scans produced from ``input_path``."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    input_loc = os.path.abspath(input_path)
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    scan_accums: set[int] = set()
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {
                    "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                    "submit_ms": ev["Submission Time"], "end_ms": None,
                    **{m: 0 for m in METRICS},
                }
                for sid in ev["Stage IDs"]:
                    # a stage shared with an earlier job ran (or was
                    # skipped) there
                    stage_job.setdefault(sid, ev["Job ID"])
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end_ms"] = ev["Completion Time"]
            elif kind.endswith(
                ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")
            ):
                for node in _walk(ev["sparkPlanInfo"]):
                    loc = (node.get("metadata") or {}).get("Location", "")
                    if node["nodeName"].startswith("Scan") and input_loc in loc:
                        scan_accums.update(
                            m["accumulatorId"] for m in node["metrics"]
                            if m["name"] == "number of output rows"
                        )
            elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                m = ev["Task Metrics"]
                job = jobs[stage_job[ev["Stage ID"]]]
                job["executor_run_s"] += m["Executor Run Time"] / 1e3
                job["executor_cpu_s"] += m["Executor CPU Time"] / 1e9
                job["gc_s"] += m["JVM GC Time"] / 1e3
                job["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                job["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                job["input_rows"] += sum(
                    int(acc["Update"]) for acc in ev["Task Info"].get("Accumulables", [])
                    if acc["ID"] in scan_accums
                )
    return list(jobs.values())


def layer_table(jobs: list[dict], start: float, end: float) -> dict[str, dict]:
    """Jobs submitted within [start, end] (epoch seconds), summed per
    group tag and over all (``"*"``); ``wall_s`` runs from a group's
    first submit to its last job end."""
    table: dict[str, dict] = {}
    for job in jobs:
        if not start * 1e3 <= job["submit_ms"] <= end * 1e3:
            continue
        for key in (job["group"] or "untagged", "*"):
            row = table.setdefault(
                key, {"jobs": 0, "first_ms": job["submit_ms"], "last_ms": 0, **{m: 0 for m in METRICS}}
            )
            row["jobs"] += 1
            row["first_ms"] = min(row["first_ms"], job["submit_ms"])
            row["last_ms"] = max(row["last_ms"], job["end_ms"] or job["submit_ms"])
            for m in METRICS:
                row[m] += job[m]
    for row in table.values():
        row["wall_s"] = (row.pop("last_ms") - row.pop("first_ms")) / 1e3
    return table


def p50(values) -> float:
    return statistics.median(values) if values else 0.0
