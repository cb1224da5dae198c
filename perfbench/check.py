"""Output check: compare a run's output dir with the generator's truth.

DuckDB reads what Spark wrote, so the check shares no code with the
program under test. Every function returns a list of disagreements;
an empty list means the output is correct.
"""

from __future__ import annotations

import glob
import os

import duckdb

# where each layout keeps its routed rows
ROUTED_GLOB = {
    "flagship_batch": "routed/*/*.parquet",
    "flagship_resume": "routed/bucket=*/*.parquet",
    "stream_drain": "data/epoch=*/sink=*/*.parquet",
}


def _connect():
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute("SET memory_limit = '1GB'")
    return con


def _routed(con, out_dir: str, workload: str) -> None:
    """A view ``routed`` over the routed rows, with a ``sink`` column."""
    files = os.path.join(out_dir, ROUTED_GLOB[workload])
    if workload == "flagship_batch":
        # one dir per sink; the sink column was dropped before the write
        sink = "split_part(filename, '/', -2)"
        src = f"read_parquet('{files}', filename = true)"
    else:
        sink = "__sink__"
        src = f"read_parquet('{files}', hive_partitioning = true)"
    con.execute(
        f"CREATE OR REPLACE VIEW routed AS SELECT {sink} AS sink, conv_id, "
        f"turn_idx, __parse_ok__, tool_call, ts FROM {src}"
    )


def _histogram_sql(src: str, sink: str, bucket: str, count: str) -> str:
    return (
        f"SELECT {sink}, CAST(epoch({bucket}) AS BIGINT), tool_call, "
        f"CAST({count} AS BIGINT) FROM {src} ORDER BY ALL"
    )


def check_output(out_dir: str, workload: str, truth: dict) -> list[str]:
    errors: list[str] = []
    con = _connect()
    try:
        _routed(con, out_dir, workload)
    except duckdb.Error as e:
        return [f"routed output unreadable: {e}"]
    want = truth["sinks"]

    got = dict(con.execute("SELECT sink, count(*) FROM routed GROUP BY sink").fetchall())
    for sink, exp in want.items():
        if got.get(sink, 0) != exp["n_turns"]:
            errors.append(f"routed rows {sink}: {got.get(sink, 0)} != {exp['n_turns']}")
    for sink in set(got) - set(want):
        errors.append(f"routed rows for unknown sink {sink}")

    if workload == "stream_drain":
        dups = con.execute(
            "SELECT count(*) - count(DISTINCT (sink, conv_id, turn_idx)) FROM routed"
        ).fetchone()[0]
        if dups:
            errors.append(f"{dups} duplicated routed rows across epochs")
        fails = dict(con.execute(
            "SELECT sink, count(*) FILTER (WHERE NOT __parse_ok__) FROM routed GROUP BY sink"
        ).fetchall())
        for sink, exp in want.items():
            if fails.get(sink, 0) != exp["n_parse_fail"]:
                errors.append(f"parse failures {sink}: {fails.get(sink, 0)} != {exp['n_parse_fail']}")
        hist = con.execute(_histogram_sql(
            "routed WHERE __parse_ok__ GROUP BY ALL", "sink",
            "date_trunc('hour', ts)", "count(*)",
        )).fetchall()
    else:
        try:
            aggs = {
                s: {"n_turns": n, "n_parse_fail": f}
                for s, n, f in con.execute(
                    "SELECT __sink__, n_turns, n_parse_fail FROM read_parquet("
                    f"'{os.path.join(out_dir, 'sink_aggregates', '*.parquet')}')"
                ).fetchall()
            }
            hist = con.execute(_histogram_sql(
                f"read_parquet('{os.path.join(out_dir, 'tool_histogram', '*.parquet')}')",
                "__sink__", "bucket", "n_events",
            )).fetchall()
        except duckdb.Error as e:
            return errors + [f"aggregate output unreadable: {e}"]
        if aggs != want:
            errors.append(f"sink_aggregates {aggs} != {want}")
    if [list(r) for r in hist] != truth["histogram"]:
        errors.append(
            f"tool histogram differs: {len(hist)} rows, "
            f"{sum(r[3] for r in hist)} events != {len(truth['histogram'])} rows, "
            f"{sum(r[3] for r in truth['histogram'])} events"
        )
    con.close()
    return errors


def output_stats(out_dir: str, workload: str) -> dict:
    """Bytes and files written, and the routed-row ratios the traced run
    reports (fan-out and parse-ok share, from the program's own output)."""
    total_bytes = 0
    for root, _dirs, files in os.walk(out_dir):
        total_bytes += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    con = _connect()
    _routed(con, out_dir, workload)
    routed, all_rows, all_ok = con.execute(
        "SELECT count(*), count(*) FILTER (WHERE sink = 'sink_all'), "
        "count(*) FILTER (WHERE sink = 'sink_all' AND __parse_ok__) FROM routed"
    ).fetchone()
    con.close()
    data = glob.glob(os.path.join(out_dir, ROUTED_GLOB[workload]))
    return {
        "out_bytes": total_bytes,
        "routed_rows": routed,
        "parse_ok_ratio": all_ok / all_rows if all_rows else 0.0,
        "routed_files": len(data),
        "routed_bytes": sum(os.path.getsize(p) for p in data),
    }
