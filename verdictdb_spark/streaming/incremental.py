"""Incremental sketch maintenance from a stream (Structured Streaming).

The reference appends to a scramble by re-running the scramble
transform on new rows and INSERTing with the stored CDF
(``ScramblingCoordinator.appendScramble:212-285``).  Mergeability
makes the sketch version trivial and far cheaper: each micro-batch
builds partial states for its rows only and MERGES them into the
persisted per-group state table — no rescan of history, ever.

``foreachBatch`` is the right Structured Streaming primitive here
(not ``applyInPandasWithState``): sketch state is per-GROUP, tiny,
and must remain queryable at rest between batches; a persisted state
table with atomic swap gives exactly that.

Exactly-once bookkeeping: ``foreachBatch`` is only at-least-once (a
batch whose merge finished but whose offset commit did not is
REPLAYED on restart), so the last merged batch_id travels INSIDE the
state directory itself (``current/_VDB_BATCH``, written into the
staged ``_next`` before the swap rename) — state and marker commit
with the same atomic rename, so there is no window where the merge
is durable but the marker is not (a separate marker file would
double-merge the additive sketches (CMS) on a crash between merge
and marker write).  The swap writes ``_next`` -> renames ``current``
to ``_prev`` -> renames ``_next`` in; a crash between the renames is
healed on the next call by restoring ``_prev`` (whose embedded
marker correctly re-admits the interrupted batch).
"""

from __future__ import annotations

import os
import shutil
from typing import Any, Sequence

from pyspark.sql import DataFrame, SparkSession

from ..operators.approx_agg import build_partials, merge_with_states


MARKER = "_VDB_BATCH"  # underscore prefix: invisible to parquet listing


def _read_marker(state_path: str) -> int:
    """Last merged batch id, or -1.  Reads the in-state marker; falls
    back to the legacy side-file for pre-existing state dirs."""
    for p in (
        os.path.join(state_path, "current", MARKER),
        os.path.join(state_path, "_BATCH"),
    ):
        if os.path.exists(p):
            with open(p) as f:
                return int(f.read().strip() or -1)
    return -1


def _merge_into_state(
    batch_df: DataFrame,
    sketch: Any,
    value: str,
    group_by: Sequence[str],
    state_path: str,
    batch_id: int = -1,
) -> None:
    spark = batch_df.sparkSession
    new_partials = build_partials(batch_df, sketch, value, group_by)
    cur_path = os.path.join(state_path, "current")
    bak = os.path.join(state_path, "_prev")
    # heal a crash that died between the two swap renames: current is
    # gone but the previous state survives in _prev
    if not os.path.exists(cur_path) and os.path.exists(bak):
        os.rename(bak, cur_path)
    # old states join the merge as just another set of partials
    old = spark.read.parquet(cur_path) if os.path.exists(cur_path) else None
    merged = merge_with_states(new_partials, old, sketch, group_by)
    tmp = os.path.join(state_path, "_next")
    merged.write.mode("overwrite").parquet(tmp)
    # stage the batch marker INSIDE the new state dir: the swap rename
    # below commits state + marker atomically (no double-merge window)
    with open(os.path.join(tmp, MARKER), "w") as f:
        f.write(str(batch_id))
    # swap via posix renames (object stores would version instead); the
    # crash window between the renames is healed by the _prev restore
    # above, and _prev is only deleted AFTER current exists again
    shutil.rmtree(bak, ignore_errors=True)
    if os.path.exists(cur_path):
        os.rename(cur_path, bak)
    os.rename(tmp, cur_path)
    shutil.rmtree(bak, ignore_errors=True)


def incremental_sketch_sink(
    stream_df: DataFrame,
    sketch: Any,
    value: str,
    group_by: Sequence[str],
    state_path: str,
    checkpoint_path: str | None = None,
    trigger_once: bool = False,
):
    """Attach a sketch-maintenance sink to a streaming DataFrame.

    Returns the started StreamingQuery.  The persisted state table at
    ``state_path/current`` always holds one merged state per group and
    can be estimated at any time with ``read_sketch_state``.

    The state dir and the streaming checkpoint are a PAIR (batch-id
    replay bookkeeping lives in the state dir): keep the default
    in-state checkpoint, or always pass the same ``checkpoint_path``
    for a given ``state_path`` — a fresh checkpoint restarts batch ids
    at 0, which the replay guard would skip.
    """
    os.makedirs(state_path, exist_ok=True)

    def for_each(batch_df: DataFrame, batch_id: int) -> None:
        # exactly-once guard: skip batches already merged (a crash
        # after the merge but before the offset commit replays them);
        # the marker is committed atomically WITH the merged state, so
        # "marker says merged" implies "state holds the merge".  An
        # empty batch merges nothing, so replaying it is a no-op and
        # needs no marker advance.
        if batch_id <= _read_marker(state_path):
            return
        if not batch_df.isEmpty():
            _merge_into_state(
                batch_df, sketch, value, group_by, state_path, batch_id=batch_id
            )

    writer = stream_df.writeStream.foreachBatch(for_each).option(
        "checkpointLocation", checkpoint_path or os.path.join(state_path, "_chk")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_sketch_state(spark: SparkSession, state_path: str) -> DataFrame:
    """The current merged per-group states (group cols + state binary)."""
    return spark.read.parquet(os.path.join(state_path, "current"))
