"""Custom stateful streaming operators (engine extension).

The reference pipeline is stateless — every 5-minute batch is
independent (SURVEY §2.10) — but a training-data ingest needs at least
one stateful primitive: cross-batch deduplication ("emit each key the
first time it is ever seen, forever"). Spark's built-in
``dropDuplicates`` on a stream needs a watermark and forgets state past
it; this operator keeps explicit per-key state via
``applyInPandasWithState`` with optional processing-time timeout for
bounded retention.

Scale notes:
- State is keyed by the dedup hash, so it shards across executors with
  the shuffle on the group key; per-key state is one boolean + count
  (~bytes). 10^9 distinct keys ≈ tens of GB across a 1000-executor
  cluster — RocksDB state store territory, configured via
  ``spark.sql.streaming.stateStore.providerClass``.
- Use a bounded ``timeout_minutes`` when the key space is unbounded;
  expired keys re-admit (the same trade every TTL'd dedup makes).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

FIRST_SEEN_OUTPUT = T.StructType(
    [
        T.StructField("dup_key", T.StringType()),
        T.StructField("first_id", T.LongType()),
        T.StructField("n_in_batch", T.LongType()),
    ]
)

_STATE = T.StructType([T.StructField("seen", T.BooleanType())])


def first_seen(
    keyed: DataFrame,
    timeout_minutes: int | None = None,
) -> DataFrame:
    """Streaming cross-batch dedup: for a stream grouped by ``dup_key``
    (string) with a numeric ``id`` column, emit one row per key the
    FIRST time it appears across the whole stream; later batches with
    the same key emit nothing.

    Input columns: ``dup_key string, id long``. Output:
    FIRST_SEEN_OUTPUT (the winning id = min id of the first batch that
    saw the key, plus that batch's row count for observability).
    """

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        n = 0
        first_id = None
        for pdf in pdfs:
            n += len(pdf)
            if len(pdf):
                m = int(pdf["id"].min())
                first_id = m if first_id is None else min(first_id, m)
        if state.hasTimedOut:
            state.remove()
            return
        already = state.exists and state.get[0]
        state.update((True,))
        if timeout_minutes is not None:
            state.setTimeoutDuration(timeout_minutes * 60 * 1000)
        if already or n == 0:
            return
        yield pd.DataFrame(
            {"dup_key": [key[0]], "first_id": [first_id], "n_in_batch": [n]}
        )

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_minutes is not None
        else GroupStateTimeout.NoTimeout
    )
    return keyed.groupBy("dup_key").applyInPandasWithState(
        fn, FIRST_SEEN_OUTPUT, _STATE, "append", timeout
    )


# --- per-key streaming admission quota (applyInPandasWithState) ------------

QUOTA_OUTPUT = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("id", T.LongType()),
        T.StructField("admit_rank", T.LongType()),
    ]
)

_QUOTA_STATE = T.StructType([T.StructField("n", T.LongType())])


def quota_admit(keyed: DataFrame, cap: int) -> DataFrame:
    """Streaming per-key admission quota: admit a key's rows (smallest
    id first within each batch, deterministic) until ``cap`` have ever
    been admitted, then drop the rest forever.

    Input columns: ``key string, id long``. Output: QUOTA_OUTPUT with
    ``admit_rank`` = 1-based lifetime admission index per key. State is
    ONE long per key (the admitted count), kept by
    ``applyInPandasWithState`` and sharded by the group key across
    executors — RocksDB state store territory at real scale, like
    :func:`first_seen`.
    """

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        n = state.get[0] if state.exists else 0
        room = cap - n
        if room <= 0:
            return
        batch = pd.concat(list(pdfs), ignore_index=True)
        sel = batch.sort_values("id").head(room)
        if len(sel):
            state.update((n + len(sel),))
            yield pd.DataFrame(
                {
                    "key": [key[0]] * len(sel),
                    "id": sel["id"].to_list(),
                    "admit_rank": list(range(n + 1, n + len(sel) + 1)),
                }
            )

    return keyed.groupBy("key").applyInPandasWithState(
        fn, QUOTA_OUTPUT, _QUOTA_STATE, "append", GroupStateTimeout.NoTimeout
    )
