"""T6 (stretch) — online per-key LWW via the ``applyInPandasWithState``
GroupState API.

The default engine path applies LWW per micro-batch inside ``foreachBatch``
(cdc.stream.pipeline) and lets the table MERGE reconcile across batches.
This module is the *online* alternative: a keyed stateful operator that
keeps the current winner per (repo, path) in the state store and emits a
changelog of winner updates — the shape a downstream sink consumes when
the table itself lives outside Spark.

Arrow-batched per key group; state is one row per key (winner), so state
size is O(live keys), independent of event volume. GroupState serializes
over Arrow/JSON, so it needs no protobuf state protocol (unlike
``transformWithStateInPandas``).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StringType, StructField, StructType

WINNER_SCHEMA = StructType([
    StructField("lsn", LongType()),
    StructField("batch_id", LongType()),
    StructField("op", StringType()),
    StructField("commit", StringType()),
    StructField("lang", StringType()),
    StructField("content", StringType()),
])

OUTPUT_SCHEMA = StructType([
    StructField("repo", StringType()),
    StructField("path", StringType()),
    StructField("lsn", LongType()),
    StructField("op", StringType()),
    StructField("commit", StringType()),
    StructField("lang", StringType()),
    StructField("content", StringType()),
])


def online_lww_changelog_gs(events: DataFrame) -> DataFrame:
    """Attach the online-LWW operator to a streaming event frame. Emits one
    changelog row per key per micro-batch in which the key appeared,
    carrying the current winner: the (lsn, batch_id)-max event (state =
    one row per live key; O(live keys), independent of event volume)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def lww(key, pdfs, state: GroupState):
        best = tuple(state.get) if state.exists else None
        for pdf in pdfs:
            pdf = pdf.sort_values(["lsn", "batch_id"])
            last = pdf.iloc[-1]
            content = last["content"]
            cand = (int(last["lsn"]), int(last["batch_id"]), str(last["op"]),
                    str(last["commit"]), str(last["lang"]),
                    None if content is None or
                    (isinstance(content, float) and pd.isna(content))
                    else str(content))
            if best is None or (cand[0], cand[1]) > (best[0], best[1]):
                best = cand
        assert best is not None
        state.update(best)
        yield pd.DataFrame({
            "repo": [key[0]], "path": [key[1]],
            "lsn": [best[0]], "op": [best[2]], "commit": [best[3]],
            "lang": [best[4]], "content": [best[5]],
        })

    return (events
            .select("repo", "path", "lsn", "batch_id", "op", "commit", "lang", "content")
            .groupBy("repo", "path")
            .applyInPandasWithState(
                lww, OUTPUT_SCHEMA, WINNER_SCHEMA,
                "append",  # changelog rows are append-only facts, which
                           # also composes with the (append-only) file sink
                GroupStateTimeout.NoTimeout))
