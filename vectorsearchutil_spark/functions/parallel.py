"""Scale-adaptive parallelism floor for fan-out stages, and the size
gate shared by every driver/distributed operator (with the helpers
that turn its pulled Arrow table into numpy).

Spark sizes scan partitions by INPUT BYTES (``maxPartitionBytes``) and
AQE coalesces shuffle partitions by MAP-OUTPUT BYTES — both lie for a
stage whose row count EXPLODES downstream of the partitioning decision
(pair joins, shingle/token explodes, per-query candidate fan-outs): a
few-MB input collapses to one task and the quadratic/linear expansion
serializes on one core while the rest of the cluster idles. The
optimization playbook's partitioning rule (guide §2): partition by the
post-explosion size, not the pre-explosion bytes, and derive the
number from the session, never a hard-coded constant.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel


def fanout_repartition(df: DataFrame, gated: bool = True) -> DataFrame:
    """Raise a narrow input's partition count to the session's default
    parallelism ahead of a fan-out stage.

    ``gated=True`` (scan-rooted inputs): no-op when the plan already
    carries >= defaultParallelism partitions — any real at-scale scan
    — so the extra exchange exists ONLY in the small-input regime
    where it is ~free (the shuffle moves the small pre-explosion rows
    once). ``gated=False`` (bounded aggregate outputs, e.g. calendar
    grids): repartition unconditionally — the static partition count
    of a not-yet-executed aggregate is the shuffle-partition constant,
    not what AQE will actually run (it coalesces a KB-sized grid to
    ONE partition at runtime), so the probe cannot see the serialization
    it needs to prevent; the exchange cost is bounded by the grid.

    Output-invariance: round-robin repartition is deterministic under
    retries (Spark sorts before distributing, SPARK-23207); every
    consumer of these frames in this repo is partitioning-invariant
    (per-row projections, unique-key tie-broken ranks, integer or
    fixpoint aggregates, array_sort-ed collect_lists).
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if gated:
        # INVARIANT (every gated call site): the input is SCAN-ROOTED
        # (no exchange between the source scan and this probe), so the
        # static partition count the probe sees IS the runtime count —
        # AQE only re-plans downstream of exchanges. On an input with
        # an upstream exchange the static count could exceed
        # defaultParallelism while AQE coalesces to 1 at runtime,
        # silently defeating the floor; such inputs must use
        # gated=False (ADVICE r10). Streaming frames have no .rdd —
        # the probe fails closed (no repartition on a streaming plan).
        try:
            if df.rdd.getNumPartitions() >= target:
                return df
        except PySparkException:
            return df
    return df.repartition(target)


def pull_if_small(df: DataFrame, max_rows: int | None) -> pa.Table | DataFrame:
    """The size gate of every driver/distributed operator: ``df`` is
    cached and read once via ``limit(max_rows + 1).toArrow()``. At most
    ``max_rows`` rows: the Arrow table (rows in no set order) is
    returned and the cache released. More: the cached, computed frame
    is returned, so the distributed path never re-runs the upstream.
    ``None`` pulls all uncached (a forced driver path); a negative
    bound returns the frame cached, not yet computed (a forced
    distributed path). A cache the caller made is never released."""
    if max_rows is None:
        return df.toArrow()
    owned = df.storageLevel == StorageLevel.NONE
    df = df.cache()
    if max_rows < 0:
        return df
    tbl = df.limit(max_rows + 1).toArrow()
    if tbl.num_rows > max_rows:
        return df
    if owned:
        df.unpersist()
    return tbl


def strategy_bound(strategy: str, max_rows: int) -> int | None:
    """``pull_if_small``'s bound for ``strategy=``: 'auto' gates at
    ``max_rows``, 'driver' always pulls, any other never does."""
    return {"auto": max_rows, "driver": None}.get(strategy, -1)


def pulled_ids(tbl: pa.Table, name: str) -> np.ndarray:
    """int64 ids from a pulled table; a NULL id raises instead of
    turning into a garbage integer."""
    col = tbl.column(name)
    if col.null_count:
        raise ValueError(f"NULL in pulled id column {name!r}")
    return col.to_numpy().astype(np.int64)


def pulled_matrix(tbl: pa.Table, name: str) -> np.ndarray:
    """Row-major float64 ``(n, dim)`` matrix from a pulled list column
    without NULL rows; zero rows give a ``(0, 0)`` one."""
    arr = tbl.column(name).combine_chunks()
    lens = pc.list_value_length(arr).to_numpy(zero_copy_only=False)
    dim = int(lens[0]) if len(lens) else 0
    if (lens != dim).any():
        raise ValueError(f"vectors of unequal length in {name!r}")
    flat = arr.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
    return flat.reshape(len(arr), dim)
