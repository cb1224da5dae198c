"""End-to-end pipeline test vs a pure-Python row-by-row oracle —
the reference's e2e verify DSL shape (test/engine/verify/count.go,
log_field.go, log_order.go): per-sink routed-row set equality,
per-sink aggregate counts, per-turn text equality under stable
(conv_id, turn_idx) ordering, and metrics counters."""

import glob
import os
import re
from collections import Counter

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from ilogtail_spark.plans.metrics import StageMetrics
from ilogtail_spark.plans.pipeline import (
    PARSE_OK_KEY,
    enrich_stage,
    parse_stage,
    route_stage,
    sink_aggregates,
)
from ilogtail_spark.sinks.writer import write_partitioned, write_per_sink
from ilogtail_spark.sources.transcripts import (
    GROK_PATTERN,
    ROLE_LOOKUP,
    TOOL_LOOKUP,
    derive_transcripts,
)

RX = re.compile(GROK_PATTERN)
ROLE_D = dict(ROLE_LOOKUP)
TOOL_D = dict(TOOL_LOOKUP)


def python_oracle(rows):
    """Pure-Python reimplementation of parse→enrich→route."""
    routed = []
    for r in rows:
        m = RX.search(r["text"])
        ok = m is not None
        err = m.group(6) if ok else None
        tool_call = m.group(1) if ok else None
        role_class = ROLE_D.get(r["role"], "Unknown")
        sinks = []
        if ok and err != "-":
            sinks.append("sink_errors")
        if r["role"] == "tool" or (ok and tool_call != "none"):
            sinks.append("sink_tools")
        if not ok:
            sinks.append("sink_parse_fail")
        conditional = list(sinks)
        sinks.append("sink_all")
        if not conditional:
            sinks.append("default")
        for s in sinks:
            routed.append(
                {
                    "sink": s,
                    "conv_id": r["conv_id"],
                    "turn_idx": r["turn_idx"],
                    "text": r["text"],
                    "parse_ok": ok,
                    "role_class": role_class,
                }
            )
    return routed


def test_e2e_routed_set_equality(spark, sf_dir, tmp_path):
    base = derive_transcripts(spark, sf_dir)
    input_rows = [r.asDict() for r in base.collect()]
    expected = python_oracle(input_rows)

    routed = route_stage(enrich_stage(parse_stage(base), spark))
    got = routed.select("__sink__", "conv_id", "turn_idx", "text", PARSE_OK_KEY, "role_class").collect()

    exp_set = {(e["sink"], e["conv_id"], e["turn_idx"], e["text"], e["parse_ok"], e["role_class"]) for e in expected}
    got_set = {(g["__sink__"], g["conv_id"], g["turn_idx"], g["text"], g[PARSE_OK_KEY], g["role_class"]) for g in got}
    assert exp_set == got_set
    assert len(got) == len(expected)  # multiset equality (no dup copies)

    # per-sink aggregate counts
    agg = {r["__sink__"]: (r["n_turns"], r["n_parse_fail"]) for r in sink_aggregates(routed).collect()}
    for sink in {e["sink"] for e in expected}:
        exp_n = sum(1 for e in expected if e["sink"] == sink)
        exp_f = sum(1 for e in expected if e["sink"] == sink and not e["parse_ok"])
        assert agg[sink] == (exp_n, exp_f), sink


def test_enrich_matches_dict_oracle(spark):
    """Literal-map enrichment equals a Python dict lookup: 'system', an
    unlisted tool and NULL role/tool all map to 'Unknown', the two
    columns are appended in order as non-null strings."""
    rows = [
        (1, "user", "bash"),
        (2, "assistant", "read"),
        (3, "tool", "write"),
        (4, "system", "search"),
        (5, "tool", "none"),
        (6, "user", "grep"),
        (7, None, None),
    ]
    df = spark.createDataFrame(rows, "id int, role string, tool string")
    out = enrich_stage(df, spark)
    assert out.columns == ["id", "role", "tool", "role_class", "tool_family"]
    for c in ("role_class", "tool_family"):
        field = out.schema[c]
        assert field.dataType.simpleString() == "string" and not field.nullable
    got = {r["id"]: (r["role_class"], r["tool_family"]) for r in out.collect()}
    assert got == {
        i: (ROLE_D.get(role, "Unknown"), TOOL_D.get(tool, "Unknown"))
        for i, role, tool in rows
    }


def test_default_driver_memory_fits_host(tmp_path):
    from ilogtail_spark.session import default_driver_memory

    def sized(kib):
        p = tmp_path / "meminfo"
        p.write_text(f"MemTotal:       {kib} kB\nMemFree:        1024 kB\n")
        return default_driver_memory(str(p))

    gib = 1024 * 1024
    assert sized(16479424) == "7g"  # a 15.7 GiB host: half, rounded down
    assert sized(2 * gib) == "1g"
    assert sized(gib // 2) == "1g"  # never below 1g
    assert sized(512 * gib) == "32g"  # never above the old default
    assert default_driver_memory(str(tmp_path / "missing")) == "4g"


def test_e2e_write_and_order(spark, sf_dir, tmp_path):
    routed = route_stage(enrich_stage(parse_stage(derive_transcripts(spark, sf_dir)), spark))

    # hive layout: one-pass partitionBy write
    out1 = str(tmp_path / "partitioned")
    write_partitioned(routed, out1)
    back = spark.read.parquet(out1)
    assert back.count() == routed.count()
    assert back.select("sink").distinct().count() == routed.select("__sink__").distinct().count()

    # deploy layout: the same one-pass write, one <out>/<sink>/ dir per sink
    out2 = str(tmp_path / "per_sink")
    paths = write_per_sink(routed, out2)
    sinks = {r["__sink__"] for r in routed.select("__sink__").distinct().collect()}
    assert set(paths) == sinks
    errors = spark.read.parquet(paths["sink_errors"])
    assert errors.count() == routed.filter(F.col("__sink__") == "sink_errors").count()

    # every written file is already in (conv_id, turn_idx) order: the
    # reference's per-source ordering (aggregator_context.go:38-57)
    for path in paths.values():
        files = glob.glob(os.path.join(path, "*.parquet"))
        assert files
        for f in files:
            t = pq.read_table(f, columns=["conv_id", "turn_idx"]).to_pydict()
            keys = list(zip(t["conv_id"], t["turn_idx"]))
            assert keys == sorted(keys), f

    # per-turn text equality vs source
    src = sorted((r["conv_id"], r["turn_idx"], r["text"]) for r in derive_transcripts(spark, sf_dir).collect())
    got = sorted((r["conv_id"], r["turn_idx"], r["text"]) for r in spark.read.parquet(paths["sink_all"]).collect())
    assert src == got


def test_deploy_batch_and_resume(spark, sf_dir, tmp_path):
    """run_pipeline.main, batch and --resume: both route every row the
    oracle routes and write the same summary tables."""
    import run_pipeline

    want: dict[str, set] = {}
    for e in python_oracle([r.asDict() for r in derive_transcripts(spark, sf_dir).collect()]):
        want.setdefault(e["sink"], set()).add((e["conv_id"], e["turn_idx"]))
    batch, resume = tmp_path / "batch", tmp_path / "resume"
    # main() re-applies the session builder's SQL conf to the shared session
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        run_pipeline.main(["--input", sf_dir, "--output", str(batch)])
        run_pipeline.main(["--input", sf_dir, "--output", str(resume),
                           "--resume", "--num-buckets", "3"])
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", partitions)

    routed_dir = batch / "routed"
    dirs = {p.name for p in routed_dir.iterdir() if p.is_dir()}
    assert dirs == set(want) == {"default", "sink_all", "sink_errors", "sink_parse_fail", "sink_tools"}
    resumed = spark.read.parquet(str(resume / "routed" / "bucket=*"))
    for sink, keys in want.items():
        for rows in (
            spark.read.parquet(str(routed_dir / sink)).collect(),
            resumed.filter(F.col("__sink__") == sink).collect(),
        ):
            got = [(r["conv_id"], r["turn_idx"]) for r in rows]
            assert len(got) == len(keys) and set(got) == keys, sink

    for table in ("sink_aggregates", "tool_histogram"):
        a = Counter(map(tuple, spark.read.parquet(str(batch / table)).collect()))
        b = Counter(map(tuple, spark.read.parquet(str(resume / table)).collect()))
        assert a and a == b, table


def test_metrics_observation(spark, sf_dir):
    m = StageMetrics()
    df = parse_stage(derive_transcripts(spark, sf_dir))
    df = m.observe_stage(df, "parse")
    total = df.count()
    collected = m.collect()
    assert collected[0]["stage"] == "parse"
    assert collected[0]["in_events_total"] == total
    fails = df.filter(~F.col(PARSE_OK_KEY)).count()
    assert collected[0]["out_failed_events_total"] == fails


def test_reference_example_yaml_runs_unchanged(spark):
    """The reference's SHIPPED example config
    (example_config/data_pipelines/nginx-regex.yaml) loads and parses
    its own documented sample line to its documented output — inputs
    are ignored (we supply the scan), flusher configs come back
    verbatim for the sink layer."""
    from ilogtail_spark.plans.pipeline import pipeline_from_yaml

    yaml_text = r"""
enable: true
inputs:
  - Type: input_file
    FilePaths:
      - /home/test-log/*.log
processors:
  - Type: processor_regex
    SourceKey: content
    Regex: '([\d\.:]+) - (\S+) \[(\S+) \S+\] \"(\S+) (\S+) ([^\\"]+)\" (\d+) (\d+) \"([^\\"]*)\" \"([^\\"]*)\" \"([^\\"]*)\"'
    Keys:
      - remote_addr
      - remote_user
      - time_local
      - method
      - url
      - protocol
      - status
      - body_bytes_sent
      - http_referer
      - http_user_agent
      - http_x_forwarded_for
flushers:
  - Type: flusher_sls
    Endpoint: cn-xxx.log.aliyuncs.com
    ProjectName: test_project
    LogstoreName: test_logstore
  - Type: flusher_stdout
    OnlyStdout: true
"""
    transform, flushers = pipeline_from_yaml(yaml_text)
    # the comment block's documented in/out pair (nginx-regex.yaml:17-19)
    line = ('::1 - - [18/Jul/2022:07:28:01 +0000] "GET /hello/ilogtail '
            'HTTP/1.1" 404 153 "-" "curl/7.74.0" "-"')
    df = spark.createDataFrame([(line,)], "content string")
    row = transform(df).collect()[0]
    assert row["remote_addr"] == "::1"
    assert row["time_local"] == "18/Jul/2022:07:28:01"
    assert row["method"] == "GET" and row["url"] == "/hello/ilogtail"
    assert row["status"] == "404" and row["body_bytes_sent"] == "153"
    assert row["http_user_agent"] == "curl/7.74.0"
    assert [f["Type"] for f in flushers] == ["flusher_sls", "flusher_stdout"]


def test_yaml_config_disabled_is_identity(spark):
    from ilogtail_spark.plans.pipeline import pipeline_from_yaml

    transform, _ = pipeline_from_yaml("enable: false\nprocessors:\n  - Type: nope\n")
    df = spark.createDataFrame([(1,)], "x int")
    assert transform(df) is df


def test_yaml_config_missing_path_is_reported(tmp_path):
    from ilogtail_spark.plans.pipeline import pipeline_from_yaml

    missing = str(tmp_path / "nope.yaml")
    with pytest.raises(FileNotFoundError, match="nope.yaml"):
        pipeline_from_yaml(missing)


def test_yaml_config_not_a_mapping_is_rejected():
    from ilogtail_spark.plans.pipeline import pipeline_from_yaml

    with pytest.raises(ValueError, match="mapping"):
        pipeline_from_yaml("- Type: processor_regex\n- Type: processor_json\n")


REF_EXAMPLES = "/root/reference/example_config/data_pipelines"


def _run_example(spark, name, line):
    """Load a SHIPPED reference config verbatim and run its documented
    sample line through the registry-composed chain."""
    import os

    from ilogtail_spark.plans.pipeline import pipeline_from_yaml

    transform, _ = pipeline_from_yaml(os.path.join(REF_EXAMPLES, name))
    df = spark.createDataFrame(
        [("c1", i, part) for i, part in enumerate(line if isinstance(line, list) else [line])],
        "conv_id string, turn_idx int, content string",
    )
    return transform(df).orderBy("turn_idx").collect()


def test_example_file_delimiter(spark):
    # documented pair, file-delimiter.yaml:16-17
    rows = _run_example(spark, "file-delimiter.yaml", "123\t2022-08-08\tbuy\t10000")
    r = rows[0]
    assert (r["uid"], r["time"], r["method"], r["value"]) == (
        "123", "2022-08-08", "buy", "10000")


def test_example_file_json(spark):
    # documented pair, file-json.yaml:16-17: {"key1":"value1","key2":2}
    # -> {"key1":"value1","key2":"2"} (ExpandConnector "" neutralizes
    # the Go level-1 connector prefix; KeepSource false)
    rows = _run_example(spark, "file-json.yaml", '{"key1":"value1","key2":2}')
    attrs = dict(rows[0]["attrs"])
    assert attrs == {"key1": "value1", "key2": "2"}


def test_example_file_grok(spark):
    # documented pair, file-grok.yaml:16-17
    rows = _run_example(
        spark, "file-grok.yaml", "10.0.0.0 GET /index.html 15824 0.043")
    r = rows[0]
    assert (r["client"], r["method"], r["request"], r["bytes"], r["duration"]) == (
        "10.0.0.0", "GET", "/index.html", "15824", "0.043")


def test_example_multiline_java_stack(spark):
    # documented pair, multiline_java_stack_trace-split_log_regex.yaml:16-22
    # — the file reader hands one read BLOCK (\n-joined lines) to
    # split_log_regex, which splits before fully-matching lines
    lines = [
        "2022-08-09 14:47:17  [ main:1 ] - [ ERROR ] com.aliyun.NullPointerTest.main(NullPointerTest.java:13) Param Error",
        "java.lang.NullPointerException",
        "\tat com.aliyun.NullPointerTest.main(NullPointerTest.java:11)",
    ]
    rows = _run_example(
        spark, "multiline_java_stack_trace-split_log_regex.yaml",
        "\n".join(lines))
    assert len(rows) == 1
    assert rows[0]["content"] == "\n".join(lines)


def test_split_log_regex_exact_go(spark):
    """split_log_regex.go:52-100 closed form: split before FULLY
    matching lines; unmatched head run merges; nothing matching →
    one log; PreserveOthers=false keeps only the split column."""
    from ilogtail_spark.operators.split import split_log_regex

    block = "head1\nhead2\nSTART a\ncont a\nSTART b"
    df = spark.createDataFrame([("x", block)], "other string, content string")
    out = split_log_regex(df, "content", r"START.*", preserve_others=True)
    got = [r["content"] for r in out.collect()]
    assert got == ["head1\nhead2", "START a\ncont a", "START b"]
    assert all(r["other"] == "x" for r in out.collect())
    # partial-only match is NOT a boundary (fullMatch, go:52-55)
    out2 = split_log_regex(df, "content", r"START", preserve_others=False)
    assert [r["content"] for r in out2.collect()] == [block]
    assert out2.columns == ["content"]


def test_json_go_key_building(spark):
    """processor_json.go:134-201 key quirks: default connector '_' IS
    prepended to level-1 keys; IgnoreFirstConnector suppresses it;
    UseSourceKeyAsPrefix + Prefix compose; nested level-2 joins with
    the connector; depth 1 keeps nested objects raw."""
    from ilogtail_spark.plans.pipeline import build_pipeline

    df = spark.createDataFrame(
        [('{"a":"1","n":{"b":"2"}}',)], "content string")

    def attrs(**params):
        t = build_pipeline([{"type": "processor_json",
                             "SourceKey": "content", **params}])
        return dict(t(df).collect()[0]["attrs"])

    # Go defaults: ExpandDepth 0 (unlimited), connector '_' before the
    # first-level key too
    assert attrs(ExpandDepth=0) == {"_a": "1", "_n_b": "2"}
    assert attrs(ExpandDepth=0, IgnoreFirstConnector=True) == {
        "a": "1", "n_b": "2"}
    assert attrs(ExpandDepth=1, ExpandConnector="") == {
        "a": "1", "n": '{"b":"2"}'}
    assert attrs(ExpandDepth=0, ExpandConnector="",
                 UseSourceKeyAsPrefix=True, Prefix="p.") == {
        "p.contenta": "1", "p.contentnb": "2"}
    # duplicate flattened keys fold last-wins, never throw
    df2 = spark.createDataFrame([('{"a_b":"x","a":{"b":"y"}}',)],
                                "content string")
    t = build_pipeline([{"type": "processor_json", "SourceKey": "content",
                         "ExpandDepth": 0, "IgnoreFirstConnector": True}])
    assert dict(t(df2).collect()[0]["attrs"]) == {"a_b": "y"}


def test_split_log_regex_go_unittest_fixtures(spark):
    """Replay split_log_regex_test.go:79-130 (TestMultiLine): chunk
    boundaries at fully-matching lines, empty lines merge as embedded
    newlines, a trailing \\n stays WITH its chunk (the Go scanner's
    [lastLineIndex:lastCheckIndex-1] carve), single-line blocks pass
    through matched or not."""
    from ilogtail_spark.operators.split import split_log_regex

    def run(block):
        df = spark.createDataFrame([(block,)], "content string")
        return [r["content"]
                for r in split_log_regex(df, "content", r"\[.*").collect()]

    assert run("[2017-12-12 00:00:00] 你好\nhello\n\n[2017xxxxxx]yyyy\n [zzzz\n[") == [
        "[2017-12-12 00:00:00] 你好\nhello\n",
        "[2017xxxxxx]yyyy\n [zzzz",
        "[",
    ]
    assert run("[2017-12-12 00:00:00] xxxxxx") == ["[2017-12-12 00:00:00] xxxxxx"]
    assert run("[2017-12-12 00:00:00] xxxxxx\n") == ["[2017-12-12 00:00:00] xxxxxx\n"]
    assert run("xxxxxx") == ["xxxxxx"]
