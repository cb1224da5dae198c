"""Seeded transcripts generator with label-derived ground truth.

Builds the transcripts table ``(conv_id, turn_idx, role, text, tool, ts)``
in the FIXTURES mix — 70/20/10 parseable/prose/malformed text, roles
40/40/5/15, one hot conversation with ~30 % of the turns — and writes it
as parquet files. The truth (per-sink routed row counts, parse-fail
counts, the per-sink hourly tool histogram) is computed from the
generator's own labels, never from the program's parser.

NumPy + pyarrow, no Spark: the benchmark process stays free of a second
JVM so the cores and memory go to the program under test.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Same text as ilogtail_spark.sources.transcripts.GROK_PATTERN; copied so
# the generator does not import the program it checks. The tests assert
# the two are equal.
GROK_PATTERN = (
    r'tool=(\w+) status=(\d+) latency_ms=(\d+) "(\w+) ([^"\s]+)" err=(\S+)'
)
SINKS = ("default", "sink_all", "sink_errors", "sink_parse_fail", "sink_tools")
HOT_CONV_ID = "conv-hot00000"

ROLES = np.array(["user", "assistant", "system", "tool"])
ROLE_P = [0.40, 0.40, 0.05, 0.15]
TOOLS = np.array(["bash", "read", "write", "search", "none"])
METHODS = np.array(["GET", "POST", "PUT", "DELETE"])
STATUSES = np.array([200, 200, 200, 201, 204, 404, 500, 503])
LABEL_P = [0.70, 0.20, 0.10]  # parse, prose, malformed
HOT_SHARE = 0.30
SPAN_US = 48 * 3600 * 1_000_000  # event time covers two days
BASE_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z

PROSE = (
    "the assistant considered {w} and replied with plain prose turn {n}",
    "user asked about {w} twice; no structured fields in turn {n}",
    "summary of {w}: nothing to invoke, moving on ({n})",
)
# Each template breaks GROK_PATTERN in a different slot.
MALFORMED = (
    "invoke tool= status=XX latency_ms= oops {n}",
    'invoke tool={t} status={s} latency_ms=slow "{m} /api/v1/{w}" err=-',
    'invoke tool={t} status={s} latency_ms={n} "{m}" err=E{s}',
    'invoke tool={t} status=OK latency_ms={n} "{m} /api/v2/{w}" err=-',
)
WORDS = ("checkout", "login", "search", "upload", "billing", "metrics", "docs")

SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


def _columns(seed: int, n: int) -> dict:
    rng = np.random.default_rng(seed)
    hot = rng.random(n) < HOT_SHARE
    conv_id = np.empty(n, dtype=object)
    turn_idx = np.zeros(n, dtype=np.int32)
    conv_id[hot] = HOT_CONV_ID
    turn_idx[hot] = np.arange(int(hot.sum()), dtype=np.int32)
    # cold turns fill conversations of 1..15 turns (mean 8) in row order
    cold = np.flatnonzero(~hot)
    lengths = rng.integers(1, 16, size=len(cold) // 4 + 16)
    ends = np.cumsum(lengths)
    nconv = int(np.searchsorted(ends, len(cold))) + 1
    starts = np.concatenate([[0], ends[: nconv - 1]])
    conv_of = np.repeat(np.arange(nconv), lengths[:nconv])[: len(cold)]
    conv_id[cold] = np.char.mod("conv-%08d", conv_of).astype(object)
    turn_idx[cold] = (np.arange(len(cold)) - starts[conv_of]).astype(np.int32)

    role = ROLES[rng.choice(4, size=n, p=ROLE_P)]
    tool_code = rng.integers(0, len(TOOLS), size=n)
    tool = TOOLS[tool_code]
    label = rng.choice(3, size=n, p=LABEL_P)
    status = STATUSES[rng.integers(0, len(STATUSES), size=n)]
    err = np.where(status < 300, "-", np.char.add("E", status.astype(str)))
    method = METHODS[rng.integers(0, len(METHODS), size=n)]
    latency = rng.integers(0, 5000, size=n)
    word = rng.integers(0, len(WORDS), size=n)
    variant = rng.integers(0, 12, size=n)
    ts = BASE_US + np.sort(rng.integers(0, SPAN_US, size=n))

    text = []
    for i in range(n):
        t, s, m, w = tool[i], status[i], method[i], WORDS[word[i]]
        if label[i] == 0:
            text.append(
                f'invoke tool={t} status={s} latency_ms={latency[i]} '
                f'"{m} /api/v{variant[i] % 3 + 1}/{w}" err={err[i]}'
            )
        elif label[i] == 1:
            text.append(PROSE[variant[i] % len(PROSE)].format(w=w, n=i))
        else:
            text.append(
                MALFORMED[variant[i] % len(MALFORMED)].format(
                    t=t, s=s, m=m, w=w, n=latency[i]
                )
            )
    return {
        "conv_id": conv_id,
        "turn_idx": turn_idx,
        "role": role,
        "text": np.array(text, dtype=object),
        "tool": tool,
        "tool_code": tool_code,
        "ts": ts,
        "parse": label == 0,
        "err": err,
    }


def truth_of(cols: dict) -> dict:
    """Expected outputs, from the generator's labels and the FIXTURES §3
    routing table."""
    n = len(cols["parse"])
    ok = cols["parse"]
    tool = cols["tool"]
    masks = {
        "sink_errors": ok & (cols["err"] != "-"),
        "sink_tools": (cols["role"] == "tool") | (ok & (tool != "none")),
        "sink_parse_fail": ~ok,
        "sink_all": np.ones(n, dtype=bool),
    }
    masks["default"] = ~(
        masks["sink_errors"] | masks["sink_tools"] | masks["sink_parse_fail"]
    )
    hour = (cols["ts"] // 3_600_000_000) * 3600
    histogram = []
    for sink in SINKS:
        m = masks[sink] & ok
        keys, counts = np.unique(
            hour[m] * len(TOOLS) + cols["tool_code"][m], return_counts=True
        )
        for k, c in zip(keys, counts):
            h, t = divmod(int(k), len(TOOLS))
            histogram.append([sink, h, str(TOOLS[t]), int(c)])
    histogram.sort()
    return {
        "rows": n,
        "parse_ok": int(ok.sum()),
        "sinks": {
            s: {"n_turns": int(masks[s].sum()), "n_parse_fail": int((masks[s] & ~ok).sum())}
            for s in SINKS
        },
        "routed_rows": int(sum(int(masks[s].sum()) for s in SINKS)),
        "histogram": histogram,
    }


def _check_labels(cols: dict) -> None:
    """Every labelled row parses (or fails) exactly as labelled."""
    rx = re.compile(GROK_PATTERN)
    for text, ok in zip(cols["text"], cols["parse"]):
        if (rx.search(text) is not None) != bool(ok):
            raise ValueError(f"generator label disagrees with GROK_PATTERN: {text!r}")


def generate(root: str, seed: int, rows: int, files: int) -> dict:
    """Write ``files`` parquet files of ``rows`` turns under ``root`` (a
    cache keyed by seed, size and file count) and return
    ``{"path", "truth", "rows", "files", "seed", "bytes"}``."""
    key = f"transcripts_s{seed}_n{rows}_f{files}"
    path = os.path.join(root, key)
    meta_path = os.path.join(path, "_truth.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return {**json.load(f), "path": os.path.join(path, "data")}
    cols = _columns(seed, rows)
    _check_labels(cols)
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    data = os.path.join(tmp, "data")
    os.makedirs(data)
    table = pa.table(
        [
            pa.array(cols["conv_id"], pa.string()),
            pa.array(cols["turn_idx"], pa.int32()),
            pa.array(cols["role"].astype(object), pa.string()),
            pa.array(cols["text"], pa.string()),
            pa.array(cols["tool"].astype(object), pa.string()),
            pa.array(cols["ts"], pa.timestamp("us", tz="UTC")),
        ],
        schema=SCHEMA,
    )
    bounds = np.linspace(0, rows, files + 1).astype(int)
    for i in range(files):
        pq.write_table(
            table.slice(bounds[i], bounds[i + 1] - bounds[i]),
            os.path.join(data, f"part-{i:05d}.parquet"),
        )
    meta = {
        "seed": seed,
        "rows": rows,
        "files": files,
        "bytes": sum(
            os.path.getsize(os.path.join(data, f)) for f in os.listdir(data)
        ),
        "truth": truth_of(cols),
    }
    with open(os.path.join(tmp, "_truth.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return {**meta, "path": os.path.join(path, "data")}
