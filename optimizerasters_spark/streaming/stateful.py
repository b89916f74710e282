"""Custom stateful streaming operator via applyInPandasWithState.

The reference keeps mutable per-file status in memory and snapshots it
(Report._input_list_info); the streaming engine's analog is per-key
STATE: here a running per-url crawl tracker that emits one row per key
per batch with (n_crawls_seen, latest_epoch, first_seen_batch) — the
streaming twin of dedup_latest + the ledger's dedup-on-add.

GroupState gives exactly-once per-key state under the checkpoint; the
pandas batch interface keeps the Python hot path vectorized per group
batch (no row-at-a-time Python against single rows — groups arrive as
DataFrames).
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUT_SCHEMA = ("url STRING, n_crawls BIGINT, latest_epoch BIGINT, "
              "first_seen_batch BIGINT")
STATE_SCHEMA = "n BIGINT, latest BIGINT, first_batch BIGINT"


def track_crawls(key: tuple, pdfs: Iterable[pd.DataFrame],
                 state: GroupState):
    """Per-url state update: count crawls, keep max warc_epoch.
    Signature per applyInPandasWithState: (group key, batch iterator,
    GroupState)."""
    n, latest, first_batch = (state.get if state.exists else (0, 0, -1))
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        n += len(pdf)
        latest = max(latest, int(pdf["warc_epoch"].max()))
        if first_batch < 0:
            first_batch = int(pdf["batch_id"].iloc[0])
    state.update((n, latest, first_batch))
    yield pd.DataFrame({"url": [key[0]], "n_crawls": [n],
                        "latest_epoch": [latest],
                        "first_seen_batch": [first_batch]})


def crawl_tracker_stream(pages_stream: DataFrame) -> DataFrame:
    """Wire the stateful tracker over a streaming pages DataFrame that
    carries (url, warc_epoch, batch_id)."""
    return (pages_stream
            .groupBy("url")
            .applyInPandasWithState(
                track_crawls,
                outputStructType=OUT_SCHEMA,
                stateStructType=STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout))
