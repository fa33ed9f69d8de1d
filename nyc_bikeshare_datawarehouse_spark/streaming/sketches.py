"""Streaming maintenance of mergeable sketches.

The batch sketches (functions/sketches.py) are partial-aggregate
algebras — count-min grids add cell-wise, HLL registers max
element-wise — which is exactly the property a streaming rollup needs:
each micro-batch folds into bounded state (d*w cells / 2^b registers)
without ever re-reading history. This module wires that algebra into
Structured Streaming via foreachBatch; the state is a versioned table
(sources/versioned.py) whose every fold is one overwrite commit —
read it with `versioned.read_snapshot(spark, state_path)`.
tests/test_streaming.py proves the streamed state equals the one-shot
batch sketch over the same corpus.

Failure semantics. foreachBatch is at-least-once: Spark may replay a
micro-batch whose effects were already applied if a failure lands
between the state commit and the checkpoint commit. Count-min merge is
cell-ADD, which is not idempotent, so each fold commits its batch id IN
the manifest, atomically with the grid, and a replayed id is skipped.
The fold reads head h and commits version h+1 expecting h
(`versioned.rewrite_head`): a fold that dies before the publish leaves
the head untouched, and one that loses h+1 to a concurrent fold raises
CommitConflict instead of publishing a grid built from a stale head.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from nyc_bikeshare_datawarehouse_spark.functions.sketches import (
    countmin_build,
    countmin_merge,
    histogram_merge,
    histogram_sketch,
    hll_merge,
    hll_registers,
)
from nyc_bikeshare_datawarehouse_spark.sources import versioned
from nyc_bikeshare_datawarehouse_spark.streaming.events import stream_foreach_batch

#: state versions kept after each fold: the new head plus the previous
#: one, so a reader that resolved the previous head still finds its files
_KEEP_VERSIONS = 2


def _sketch_merge_fn(state_path: str, build_fn, merge_fn):
    """foreachBatch callback folding each micro-batch's partial sketch
    into the persisted state, exactly once per batch id (replays after a
    commit-then-crash are skipped, so the non-idempotent cell-add merge
    stays correct under at-least-once delivery)."""

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= versioned.last_metadata_value(state_path, "batch_id", -1):
            return
        sketch = build_fn(batch_df)

        def fold(_head: int, state: DataFrame | None):
            grid = sketch if state is None else merge_fn(state, sketch)
            return grid.coalesce(1), {"batch_id": batch_id}

        version = versioned.rewrite_head(batch_df.sparkSession, state_path, fold)
        if version > _KEEP_VERSIONS:
            versioned.expire_snapshots(
                state_path, keep_from=version - _KEEP_VERSIONS + 1
            )

    return _merge


def countmin_stream(
    stream: DataFrame,
    key_col: str,
    state_path: str,
    checkpoint_path: str,
    depth: int = 4,
    width: int = 256,
):
    """Maintain a count-min grid over a stream: each micro-batch builds
    its own d×w partial grid (bounded regardless of batch size) and
    cell-adds it into the persisted state. Exactly the per-day rollup
    recipe from DEPLOYMENT.md, expressed as a running stream."""
    merge = _sketch_merge_fn(
        state_path,
        lambda df: countmin_build(df, key_col, depth, width),
        countmin_merge,
    )
    return stream_foreach_batch(stream, merge, checkpoint_path)


def hll_stream(
    stream: DataFrame,
    key_col: str,
    state_path: str,
    checkpoint_path: str,
    b: int = 6,
):
    """Maintain HLL registers over a stream: per-batch registers folded
    by element-wise max — distinct counting with 2^b longs of state at
    any stream length. Max-merge is idempotent, but the batch-id guard
    still applies so replayed batches cost nothing."""
    merge = _sketch_merge_fn(
        state_path,
        lambda df: hll_registers(df, key_col, b),
        hll_merge,
    )
    return stream_foreach_batch(stream, merge, checkpoint_path)


def histogram_stream(
    stream: DataFrame,
    value_col: str,
    state_path: str,
    checkpoint_path: str,
    lo: int,
    hi: int,
    n_bins: int = 256,
):
    """Maintain a fixed-width histogram over a stream: per-batch bin
    counts folded by bin-wise addition — the distribution sketch with
    n_bins longs of state at any stream length. Add-merge is NOT
    idempotent, so this leans on the same batch-id replay guard as
    countmin_stream."""
    merge = _sketch_merge_fn(
        state_path,
        lambda df: histogram_sketch(df, value_col, lo, hi, n_bins),
        histogram_merge,
    )
    return stream_foreach_batch(stream, merge, checkpoint_path)


def kmv_stream(
    stream: DataFrame,
    key_col: str,
    state_path: str,
    checkpoint_path: str,
    k: int = 64,
):
    """Maintain a KMV bottom-k sketch over a stream: per-batch bottom-k
    folded by union-then-bottom-k — distinct counting WITH set algebra
    (union/Jaccard) at k longs of state. The union merge is idempotent,
    but the batch-id guard still short-circuits replays."""
    from nyc_bikeshare_datawarehouse_spark.functions.sketches import (
        kmv_sketch,
        kmv_union,
    )

    merge = _sketch_merge_fn(
        state_path,
        lambda df: kmv_sketch(df, key_col, k),
        lambda a, b: kmv_union(a, b, k),
    )
    return stream_foreach_batch(stream, merge, checkpoint_path)


def checksum_stream(
    stream: DataFrame,
    cols,
    state_path: str,
    checkpoint_path: str,
):
    """Maintain a running content checksum over a stream (warehouse/
    quality.py `checksum_state`: n_rows + Σ md5-60bit in exact
    DECIMAL(38,0)): each micro-batch reduces to ONE tiny state row that
    ADDS into the persisted state — the streaming half of the
    migration-verification gate, so a replicated stream's content can
    be compared against the source table checksum at any cutover point
    without re-reading history. Add-merge is NOT idempotent, hence the
    same batch-id replay guard as countmin_stream. `cols` are the
    engine-stable rendered Column expressions content_checksum takes."""
    from nyc_bikeshare_datawarehouse_spark.warehouse.quality import (
        checksum_merge,
        checksum_state,
    )

    merge = _sketch_merge_fn(
        state_path,
        lambda df: checksum_state(df, cols),
        checksum_merge,
    )
    return stream_foreach_batch(stream, merge, checkpoint_path)


def confusion_stream(
    stream: DataFrame,
    score_col: str,
    label_col: str,
    thresholds,
    state_path: str,
    checkpoint_path: str,
):
    """Maintain running classifier confusion counts over a stream: each
    micro-batch reduces to len(thresholds) exact count rows
    (functions/metrics.confusion_state) that cell-ADD into the persisted
    state — the streaming half of the threshold-sweep evaluation, so a
    quality filter's operating point can be audited continuously as new
    data lands without re-scoring history. Read the state back through
    `metrics.confusion_report` for precision/recall/F1. Add-merge is not
    idempotent, hence the same batch-id replay guard as countmin_stream.
    `score_col`/`label_col` name already-computed columns (score integral,
    label boolean/int) so the maintainer composes with any scorer."""
    from pyspark.sql import functions as F

    from nyc_bikeshare_datawarehouse_spark.functions.metrics import (
        confusion_merge,
        confusion_state,
    )

    merge = _sketch_merge_fn(
        state_path,
        lambda df: confusion_state(
            df, F.col(score_col), F.col(label_col), thresholds
        ),
        confusion_merge,
    )
    return stream_foreach_batch(stream, merge, checkpoint_path)
