"""Structured Streaming variant of the transcript pipeline.

Reference mapping (SURVEY.md §2.10):
  * 3 s aggregator flush interval  → trigger(processingTime=...)
  * out-of-range timestamp drop    → withWatermark + filter
  * per-source ordered context     → sortWithinPartitions in foreachBatch
  * at-least-once + checkpoints    → Structured Streaming checkpointLocation
                                     (exact-once into idempotent sinks)

The SAME batch operator functions run inside foreachBatch — one
operator library, two execution modes, like the reference running
identical processor plugins under its real-time pipeline.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ilogtail_spark.plans.pipeline import enrich_stage, parse_stage, route_stage


def streaming_transcripts(
    spark: SparkSession,
    input_dir: str,
    schema: str = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    ),
    max_files_per_trigger: int = 4,
) -> DataFrame:
    """File-stream source over a transcripts parquet directory —
    the streaming analogue of input_file tailing (maxFilesPerTrigger
    ≙ bounded process-queue back-pressure)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def streaming_exact_dedup(
    stream: DataFrame,
    key_cols: tuple[str, ...] = ("text",),
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """The training-data exact-dedup stage as a CONTINUOUS operator:
    the first occurrence of each key survives, duplicates arriving in
    any later microbatch are dropped against the streaming state
    store. ``dropDuplicatesWithinWatermark`` bounds that state by
    EVENT TIME — a key's entry expires once the watermark passes it —
    which is the only shape that survives an unbounded stream (plain
    ``dropDuplicates`` on a stream retains every key forever). The
    trade, documented: a duplicate arriving later than ``watermark``
    after its first occurrence is re-admitted; pick the horizon from
    the dedup-recall SLO, not from memory limits."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def _foreach_batch_writer(
    stream: DataFrame,
    transform: Callable[[DataFrame], DataFrame],
    sink_fn: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    watermark: str | None,
    trigger_seconds: int | None,
):
    """Shared scaffolding: watermark (≙ late-data policy) →
    foreachBatch(transform) → checkpointed update-mode writer with
    trigger≙flush-interval (availableNow when unset)."""
    withwm = stream.withWatermark("ts", watermark) if watermark else stream

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        sink_fn(transform(batch_df), epoch_id)

    writer = (
        withwm.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    else:
        writer = writer.trigger(availableNow=True)
    return writer


def build_streaming_query(
    stream: DataFrame,
    spark: SparkSession,
    sink_fn: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    watermark: str = "1 hour",
    trigger_seconds: int | None = None,
    engine: str = "native",
):
    """parse → enrich → route inside foreachBatch, with a watermark
    standing in for processor_timestamp_filter_native's late-data
    policy. ``engine`` is ``parse_stage``'s: only "native" is valid."""
    if engine != "native":
        raise ValueError(f"build_streaming_query: the parse engine is 'native', got '{engine}'")

    def transform(batch_df: DataFrame) -> DataFrame:
        routed = route_stage(
            enrich_stage(parse_stage(batch_df), spark)
        )
        return routed.sortWithinPartitions("conv_id", "turn_idx")

    return _foreach_batch_writer(
        stream, transform, sink_fn, checkpoint_dir, watermark, trigger_seconds
    )


def windowed_stream_agg(
    stream: DataFrame, watermark: str = "1 hour", window: str = "1 hour"
) -> DataFrame:
    """Event-time windowed per-tool counts with late-data watermark —
    the streaming twin of plans/pipeline.py::tool_histogram."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "tool")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("bucket"), "tool", "n_events")
    )


def stateful_multiline_merge(
    stream: DataFrame,
    source: str = "text",
    order_col: str = "turn_idx",
    key_cols: list[str] | None = None,
    start_pattern: str = r"^",
    unmatched: str = "single_line",  # single_line | discard
    max_merge_lines: int = 256,
    flush_timeout_ms: int | None = None,
):
    """Multiline merge as a CUSTOM STATEFUL streaming operator — the
    native habitat of ProcessorSplitMultilineLogStringNative (file
    tailing holds the open log across reads; here the open merge
    group persists ACROSS MICRO-BATCHES via applyInPandasWithState).

    Start-only mode: a Start line flushes the previous group and opens
    a new one; continuation lines append; lines with no open group
    follow ``unmatched`` (SINGLE_LINE emits them as-is, DISCARD drops
    them — MultilineOptions.h:31-53). Groups flush in
    ``max_merge_lines`` chunks like the batch engine. A dangling open
    group flushes on the processing-time timeout when
    ``flush_timeout_ms`` is set — the streaming twin of the
    reference's unfinished-log flush timeout; without it the group
    waits for the next Start (and is dropped at stream end, as the
    reference drops an unflushed tail on shutdown).

    State per key: (start order, buffered text, line count). The
    per-line scan is a compiled-regex Python loop over the group's
    Arrow batch — this is the stateful path; the vectorized batch
    operator (operators/split.py::split_multiline) remains the bulk
    path.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    import re

    key_cols = key_cols or ["conv_id"]
    fields = {f.name: f.dataType.simpleString() for f in stream.schema.fields}
    out_schema = ", ".join(
        [f"`{k}` {fields[k]}" for k in key_cols]
        + [f"`{order_col}` {fields[order_col]}", f"`{source}` string"]
    )
    state_schema = "start_order long, buf string, n long"
    cols = key_cols + [order_col, source]
    rx = re.compile(start_pattern)
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if flush_timeout_ms
        else GroupStateTimeout.NoTimeout
    )

    def fn(key, pdfs, state):
        if state.hasTimedOut:
            so, buf, _ = state.get
            state.remove()
            yield pd.DataFrame([[*key, so, buf]], columns=cols)
            return
        pending = list(state.get) if state.exists else None
        out = []
        # the group's rows arrive as MULTIPLE Arrow batches with no
        # global ordering — concatenate before the single sort, else a
        # later batch with earlier line numbers corrupts the state
        # machine (bounded by the key's per-micro-batch volume)
        chunks = [pdf for pdf in pdfs]
        if chunks:
            allrows = pd.concat(chunks).sort_values(order_col)
            for o, t in zip(allrows[order_col], allrows[source]):
                if t is None:
                    # NULL rows are not lines: unmatched policy, like
                    # the batch engine (never appended as 'None')
                    if unmatched == "single_line":
                        out.append((o, None))
                    continue
                if rx.search(t):
                    if pending:
                        out.append((pending[0], pending[1]))
                    pending = [o, t, 1]
                elif pending is not None:
                    if pending[2] >= max_merge_lines:
                        out.append((pending[0], pending[1]))
                        pending = [o, t, 1]  # continuation chunk
                    else:
                        pending[1] = f"{pending[1]}\n{t}"
                        pending[2] += 1
                elif unmatched == "single_line":
                    out.append((o, t))
        if pending is not None:
            state.update((int(pending[0]), pending[1], int(pending[2])))
            if flush_timeout_ms:
                state.setTimeoutDuration(flush_timeout_ms)
        elif state.exists:
            state.remove()
        if out:
            yield pd.DataFrame(
                [[*key, o, t] for o, t in out], columns=cols
            )

    return stream.groupBy(*[F.col(k) for k in key_cols]).applyInPandasWithState(
        fn, out_schema, state_schema, "append", timeout
    )


def stateful_rate_limit(
    stream: DataFrame,
    keys: list[str],
    limit_per_key: int,
):
    """processor_rate_limit as a CUSTOM STATEFUL streaming operator
    (processor_rate_limit.go:26-33, token_bucket.go:33-118):
    per-key token bucket whose consumed count persists ACROSS
    micro-batches via applyInPandasWithState — the streaming twin of
    operators/filters.py::rate_limit (whose windowed row_number only
    caps within one batch).

    State = one long per key (tokens consumed). Arrow-batched pandas
    slices, no per-row Python. At scale the state store shards by the
    group key exactly like the reference's per-key bucket map.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = stream.schema
    state_schema = "used long"

    def fn(key, pdfs, state):
        used = state.get[0] if state.exists else 0
        for pdf in pdfs:
            take = max(0, limit_per_key - used)
            if take > 0:
                out = pdf.iloc[:take]
                used += len(out)
                yield out
            else:
                used += 0
        state.update((used,))

    return stream.groupBy(*[F.col(k) for k in keys]).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def session_stream_agg(
    stream: DataFrame,
    keys: list[str],
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Gap-based sessions with Spark's NATIVE ``session_window`` — the
    streaming twin of operators/agg.py::sessionize (q56). The state
    store merges overlapping per-event windows and the watermark
    finalizes+evicts a session once event time passes its close, so
    state is bounded by the number of OPEN sessions, not history.

    Boundary nuance vs the batch closed form: ``session_window`` ends
    are exclusive, so a gap of EXACTLY the gap duration starts a new
    session here, while the batch lag+prefix-sum form (``> gap``)
    keeps it in the old one — same off-by-one Spark itself has between
    the two idioms; callers comparing engines should avoid exact-gap
    fixtures or shift the batch predicate to ``>=``.
    """
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("w"), *keys)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            *keys,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_close"),
            "n_events",
        )
    )


def build_streaming_query_from_config(
    stream: DataFrame,
    config_yaml: str,
    sink_fn: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    watermark: str | None = "1 hour",
    trigger_seconds: int | None = None,
):
    """Run a reference-style YAML collection config as a STREAMING
    job: the same registry-composed chain `pipeline_from_yaml`
    builds for batch executes inside foreachBatch — the reference's
    one-pipeline-definition-both-modes property (a CollectionConfig
    doesn't know whether its input tails a file or replays a
    directory). Watermark ≙ the late-data policy; flusher entries are
    the caller's concern exactly as in the batch path."""
    from ilogtail_spark.plans.pipeline import pipeline_from_yaml

    transform, _flushers = pipeline_from_yaml(config_yaml)
    return _foreach_batch_writer(
        stream, transform, sink_fn, checkpoint_dir, watermark, trigger_seconds
    )
