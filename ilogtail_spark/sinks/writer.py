"""Multicast sink writer.

The reference's flusher layer: router fans event groups out to N
flushers, each with its own batching/serialization
(core/collection_pipeline/route/Router.cpp:51-85, Batcher.h:131-171).

Spark re-expression: the routed frame (already exploded per sink by
``route_stage``) is written in ONE pass with ``partitionBy`` on the
sink column, so every sink is a directory of one parquet dataset and
the upstream plan runs once — no cache, no per-sink filtered rescans.

  * ``write_partitioned`` keeps Spark's hive layout (``sink=<s>/``)
    for readers that discover the sink from the partition path.
  * ``write_per_sink`` is the deploy layout ``<out>/<s>/part-*.parquet``:
    the same one-pass write, then each ``__sink__=<s>`` directory is
    renamed to ``<s>``. The rename keeps the deploy output's layout:
    consumers address a sink's output by the sink name, as the
    reference addresses a flusher, and the files hold the routed
    columns without the sink column, as a per-flusher writer emits.
"""

from __future__ import annotations

import os
from urllib.parse import unquote

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_partitioned(
    routed: DataFrame,
    out_dir: str,
    sink_col: str = "__sink__",
    mode: str = "overwrite",
    max_records_per_file: int = 1_000_000,
) -> None:
    """One-pass multicast write: partitionBy(sink). maxRecordsPerFile
    plays the role of the reference's LogGroup size cap
    (aggregator_base.go 1024-logs/3MB batching) at file granularity."""
    (
        routed.withColumn("sink", F.col(sink_col))
        .write.mode(mode)
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy("sink")
        .parquet(out_dir)
    )


def write_per_sink(routed: DataFrame, out_dir: str) -> dict[str, str]:
    """Write ``routed`` once, partitioned by ``__sink__``, and rename
    each ``__sink__=<s>`` dir to ``<s>``; returns sink -> dir.

    Rows are sortWithinPartitions(__sink__, conv_id, turn_idx): the
    sink key leads because the partitioned writer needs each task's
    rows grouped by sink, and each file comes out in (conv_id,
    turn_idx) order — the reference's aggregator_context per-source
    ordering guarantee (aggregator_context.go:38-57)."""
    (
        routed.sortWithinPartitions("__sink__", "conv_id", "turn_idx")
        .write.mode("overwrite")
        .partitionBy("__sink__")
        .parquet(out_dir)
    )
    prefix = "__sink__="
    paths = {}
    for name in os.listdir(out_dir):
        if name.startswith(prefix):
            # partition values are path-escaped (ExternalCatalogUtils)
            sink = unquote(name[len(prefix):])
            paths[sink] = os.path.join(out_dir, sink)
            os.rename(os.path.join(out_dir, name), paths[sink])
    return paths
