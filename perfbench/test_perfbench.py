"""Tests of the benchmark itself, mostly at a tiny size.

    python -m pytest perfbench/test_perfbench.py -q

The generator and check tests take seconds; the Spark ones start real
driver processes (about six minutes in all on 4 cores).
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import subprocess
import sys

import duckdb
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def test_pattern_is_the_programs():
    from ilogtail_spark.sources.transcripts import GROK_PATTERN

    assert gen.GROK_PATTERN == GROK_PATTERN


def test_truth_matches_independent_duckdb_count(tmp_path):
    meta = gen.generate(str(tmp_path), seed=5, rows=4000, files=3)
    truth = meta["truth"]
    pat = gen.GROK_PATTERN.replace("'", "''")
    con = duckdb.connect()
    con.execute(f"""
        CREATE VIEW t AS SELECT *,
            regexp_matches(text, '{pat}') AS ok,
            regexp_extract(text, '{pat}', 1) AS tool_call,
            regexp_extract(text, '{pat}', 6) AS err
        FROM read_parquet('{meta["path"]}/*.parquet')""")
    con.execute("""
        CREATE VIEW routed AS
        SELECT 'sink_errors' AS sink, * FROM t WHERE ok AND err <> '-'
        UNION ALL SELECT 'sink_tools', * FROM t
            WHERE role = 'tool' OR (ok AND tool_call <> 'none')
        UNION ALL SELECT 'sink_parse_fail', * FROM t WHERE NOT ok
        UNION ALL SELECT 'sink_all', * FROM t
        UNION ALL SELECT 'default', * FROM t
            WHERE ok AND err = '-' AND role <> 'tool' AND tool_call = 'none'""")
    sinks = {
        s: {"n_turns": n, "n_parse_fail": f}
        for s, n, f in con.execute(
            "SELECT sink, count(*), count(*) FILTER (WHERE NOT ok) FROM routed GROUP BY sink"
        ).fetchall()
    }
    assert sinks == truth["sinks"]
    hist = con.execute("""
        SELECT sink, CAST(epoch(date_trunc('hour', ts)) AS BIGINT), tool_call, count(*)
        FROM routed WHERE ok GROUP BY ALL ORDER BY ALL""").fetchall()
    assert [list(r) for r in hist] == truth["histogram"]
    assert con.execute("SELECT count(*) FROM t").fetchone()[0] == truth["rows"] == 4000
    # the FIXTURES mix: hot conversation and label shares near their targets
    hot = con.execute(f"SELECT avg((conv_id = '{gen.HOT_CONV_ID}')::INT) FROM t").fetchone()[0]
    assert 0.25 < hot < 0.35
    assert 0.65 < truth["parse_ok"] / truth["rows"] < 0.75


def test_generator_is_seeded(tmp_path):
    a = gen.generate(str(tmp_path / "a"), seed=9, rows=500, files=2)
    b = gen.generate(str(tmp_path / "b"), seed=9, rows=500, files=2)
    c = gen.generate(str(tmp_path / "c"), seed=10, rows=500, files=2)
    assert a["truth"] == b["truth"] != c["truth"]


@pytest.fixture(scope="module")
def work(tmp_path_factory):
    path = tmp_path_factory.mktemp("perfbench")
    for d in ("runs", "out", "data"):
        (path / d).mkdir()
    return str(path)


def _deploy(work: str, workload: str, data: dict) -> tuple[str, dict]:
    out = os.path.join(work, "out", workload)
    spec = {
        "workload": workload, "input": data["path"],
        "rows": data["rows"], "output": out, "trace": False,
        "seconds": 0, "eventlog_dir": None,
    }
    if workload == "stream_drain":
        spec["mfpt"] = 1
    cwd = os.getcwd()
    os.chdir(ROOT)
    try:
        res = run.run_child(spec, work, timeout=170)
    finally:
        os.chdir(cwd)
    return out, res


def test_check_rejects_truncated_output(work):
    meta = gen.generate(os.path.join(work, "data"), seed=3, rows=3000, files=2)
    out, _ = _deploy(work, "flagship_batch", meta)
    assert check.check_output(out, "flagship_batch", meta["truth"]) == []

    bad = out + "_truncated"
    shutil.copytree(out, bad)
    parts = sorted(
        f for f in os.listdir(os.path.join(bad, "routed", "sink_all")) if f.endswith(".parquet")
    )
    os.remove(os.path.join(bad, "routed", "sink_all", parts[0]))
    errors = check.check_output(bad, "flagship_batch", meta["truth"])
    assert any("routed rows sink_all" in e for e in errors)

    shutil.rmtree(os.path.join(bad, "tool_histogram"))
    assert any("unreadable" in e for e in check.check_output(bad, "flagship_batch", meta["truth"]))


def test_stream_check_rejects_duplicated_epoch(work):
    data = gen.generate(os.path.join(work, "data"), seed=4, rows=2000, files=2)
    out, res = _deploy(work, "stream_drain", data)
    drain = os.path.join(out, "drain0")
    assert res["drains"][0]["rows"] == 2000
    assert check.check_output(drain, "stream_drain", data["truth"]) == []
    epochs = sorted(d for d in os.listdir(os.path.join(drain, "data")) if d.startswith("epoch="))
    shutil.copytree(
        os.path.join(drain, "data", epochs[0]), os.path.join(drain, "data", "epoch=999")
    )
    errors = check.check_output(drain, "stream_drain", data["truth"])
    assert any("duplicated" in e for e in errors)


def _run_bench(monkeypatch, *argv) -> dict:
    monkeypatch.chdir(ROOT)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        code = run.main(list(argv))
    assert code == 0
    return json.loads(buf.getvalue().strip().splitlines()[-1])


# layers that do the work on each workload: their per-layer metrics must
# be measured (non-zero) there
RUNS_ON = {
    "flagship_batch": [
        "aggregate.marginal_s", "aggregate.shuffle_bytes", "pipeline.materialize_s",
    ],
    "flagship_resume": [
        "aggregate.marginal_s", "aggregate.shuffle_bytes", "checkpoint.materialize_s",
        "checkpoint.bucket_s_p50", "checkpoint.bucket_s_max", "checkpoint.commits",
    ],
    "stream_drain": [
        "stream.batches", "stream.batch_latency_ms_p50", "stream.addbatch_ms_p50",
        "stream.trigger_overhead_ms_p50",
    ],
}
EVERYWHERE = [
    "sources.scan_s", "parse.marginal_s", "parse.ok_ratio", "enrich.marginal_s",
    "route.marginal_s", "route.fanout", "pipeline.input_passes",
    "sink.write_s", "sink.bytes_written", "sink.files_written",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.cpu_util",
    "trace.overhead_ratio",
]


# the traced runs use the benchmark's own input sizes: the cheapest
# layers' marginals are tens of milliseconds there and below the timing
# noise at a tiny size
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_traced_run_emits_every_per_layer_metric(monkeypatch, workload):
    res = _run_bench(monkeypatch, "--workload", workload, "--seed", "2",
                     "--seconds", "1", "--trace", "1")
    assert res["correct"] and res["failed"] == 0
    names = [m["name"] for m in BENCH["per_layer"]]
    assert sorted(res["metrics"]) == sorted(names)
    for name in EVERYWHERE + RUNS_ON[workload]:
        assert res["metrics"][name]["value"] > 0, name
    for name in names:
        if name.startswith(run.NOT_RUN[workload]):
            assert res["metrics"][name]["value"] == 0, name
    m = {k: v["value"] for k, v in res["metrics"].items()}
    size = run.STREAM if workload == "stream_drain" else run.FLAGSHIP
    truth = gen.generate(os.path.join(ROOT, run.WORK, "data"), 2, size["rows"], size["files"])["truth"]
    assert m["parse.ok_ratio"] == pytest.approx(truth["parse_ok"] / truth["rows"])
    assert m["route.fanout"] == pytest.approx(truth["routed_rows"] / truth["rows"])
    if workload == "flagship_batch":
        assert m["pipeline.input_passes"] == pytest.approx(3.0)
    if workload == "flagship_resume":
        assert m["checkpoint.commits"] == run.RESUME_BUCKETS


def test_untraced_run_emits_every_end_to_end_metric(monkeypatch):
    monkeypatch.setattr(run, "STREAM", {"rows": 1500, "files": 3, "mfpt": 1})
    res = _run_bench(monkeypatch, "--workload", "stream_drain", "--seed", "2",
                     "--seconds", "1", "--trace", "0")
    assert res["correct"] and res["attempted"] >= 1 and res["failed"] == 0
    assert sorted(res["metrics"]) == sorted(m["name"] for m in BENCH["end_to_end"])
    for m in BENCH["end_to_end"]:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and got["value"] > 0


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        BENCH["command"] + ["--workload", "flagship_batch", "--seed", "1",
                            "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
